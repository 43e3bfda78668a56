package graft.ops

import graft.{Det, GraftSession, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** SURVEY §2.1 — scans, sources, sinks.
  *
  * Round-trip queries write a deterministic derivation of a driver table to
  * a scratch dir in the requested format, read it back through the real
  * source path, and produce an oracle-checkable result — exercising writer
  * + reader + schema handling end-to-end.
  *
  * Scale notes: the partitioned layout (S6) is the 100 TB pattern —
  * directory-partition on a low-cardinality column so partition pruning
  * skips data before any I/O; `.explain` shows PartitionFilters. CSV/JSON
  * reads use explicit schemas (no inference pass over the data).
  */
object Sources extends QueryModule {
  import Det._

  // r17 note: routing these through /dev/shm was A/B-measured (11 write-
  // sink queries, reps=5) at NO gain over /tmp — the sinks are small
  // enough that the page cache absorbs them and nothing fsyncs — so
  // batch scratch deliberately stays on the default temp dir (unlike the
  // streaming checkpoints, whose per-trigger WAL latency did move).
  private[graft] def scratch(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    deleteAtExit(dir)
    dir.toString
  }

  // Scratch dirs are removed, recursively, when the JVM exits and not
  // before: a query's result may read its scratch files lazily, after
  // the query has returned.
  private val atExit = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  Runtime.getRuntime.addShutdownHook(new Thread(
    () => atExit.forEach(f => org.apache.commons.io.FileUtils.deleteQuietly(f)),
    "graft-scratch-cleanup"))

  private[graft] def deleteAtExit(dir: java.io.File): Unit = atExit.add(dir)

  // Build-once streaming-source fixtures, keyed by (prefix, sfDir): the
  // first call materializes the files, later calls in the same JVM
  // (bench reps, repeated suite runs) reuse them. The gated streaming
  // queries re-derive their file-source inputs from the batch tables on
  // every invocation; that preparation is test scaffolding — the
  // operator under measure is the streaming EXECUTION — and it was
  // costing a corpus write (plus min/max collects) per bench rep.
  // Correctness constraint: a cached fixture must be a pure function of
  // sfDir and fully static before the stream starts (mid-run sentinel
  // appends were restructured into pre-written newest-modTime files so
  // they still arrive in their own trailing micro-batches).
  private val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def fixtureOnce(prefix: String, sfDir: String)(
      build: String => Unit): String =
    fixtureCache.computeIfAbsent(s"$prefix|$sfDir", _ => {
      val dir = scratch(prefix)
      build(dir)
      dir
    })

  // s14 setup cache: sf-dir whose bucketed tables are already built.
  // Keyed by SparkContext (same rationale as Joins.cboBuilt: the tables
  // are catalog state shared by every session of the context).
  private val bucketedBuilt =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, String]())

  val queries: Map[String, Q] = Map(
    // S1: parquet scan with pushed filter + pruned columns.
    "s1_parquet_scan" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
                col("l_quantity") > 45.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // S2: CSV round-trip (write region as CSV, read back with schema).
    "s2_csv_roundtrip" -> ((s, d) => {
      val out = scratch("graft_csv")
      Tables.region(s, d).orderBy(col("r_regionkey"))
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType)))
      s.read.schema(schema).option("header", "true").csv(out)
        .orderBy(col("r_regionkey"))
    }),

    // S3: JSONL round-trip (write nation as JSON lines, read back).
    "s3_json_roundtrip" -> ((s, d) => {
      val out = scratch("graft_json")
      Tables.nation(s, d).orderBy(col("n_nationkey"))
        .coalesce(1).write.mode("overwrite").json(out)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.schema(schema).json(out)
        .orderBy(col("n_nationkey"))
    }),

    // S4: parquet sink — write an aggregate, read it back.
    "s4_parquet_sink" -> ((s, d) => {
      val out = scratch("graft_sink")
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .coalesce(1).write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy(col("o_orderstatus"))
    }),

    // S7: JDBC source/sink round-trip through embedded Derby (the one JDBC
    // driver on Spark's classpath; zero-egress container rules out fetching
    // H2/SQLite). Write via the JDBC sink, read back as a PARTITIONED jdbc
    // source (4 range-partitions on the key — the 100 TB-side pattern for
    // parallel ingest from an RDBMS). Derby uppercases identifiers, so the
    // read side re-aliases to the declared lowercase schema.
    "s7_jdbc_roundtrip" -> ((s, d) => {
      val dir = scratch("graft_jdbc")
      System.setProperty("derby.system.home", dir) // keep derby.log out of CWD
      val url = s"jdbc:derby:$dir/db;create=true"
      val driver = "org.apache.derby.jdbc.EmbeddedDriver"
      Tables.nation(s, d).write.mode("overwrite").format("jdbc")
        .option("url", url).option("dbtable", "nation")
        .option("driver", driver).save()
      s.read.format("jdbc")
        .option("url", url).option("dbtable", "nation").option("driver", driver)
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", "0").option("upperBound", "25")
        .option("numPartitions", "4")
        .load()
        .select(col("N_NATIONKEY").as("n_nationkey"),
          col("N_NAME").as("n_name"),
          col("N_REGIONKEY").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }),

    // S8: ORC round-trip — Presto's other first-class columnar format
    // (hive connector reads ORC as readily as parquet). Spark has a native
    // vectorized ORC reader; the round-trip exercises writer + reader +
    // type mapping (int/string/double/timestamp survive).
    "s8_orc_roundtrip" -> ((s, d) => {
      val out = scratch("graft_orc")
      Tables.supplier(s, d).orderBy(col("s_suppkey"))
        .coalesce(1).write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy(col("s_suppkey"))
    }),

    // S9: dynamic partition overwrite — THE incremental-ETL write pattern
    // (Presto `INSERT OVERWRITE` partitions): rewrite only the partitions
    // present in the incoming batch, leave the rest untouched. Here the
    // 'F' partition is replaced with re-derived rows (prices doubled);
    // the read-back proves non-targeted partitions survived.
    "s9_partition_overwrite" -> ((s, d) => {
      val out = scratch("graft_povr")
      val o = Tables.orders(s, d)
      o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      GraftSession.withConf(s,
          "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        o.filter(col("o_orderstatus") === "F")
          .withColumn("o_totalprice", col("o_totalprice") * 2.0)
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      }
      s.read.parquet(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    // S10: parquet schema evolution — an older batch lacks a column a
    // newer batch carries; mergeSchema unions the schemas at read time
    // and back-fills nulls. THE long-lived-table ETL reality: producers
    // add columns, history doesn't rewrite.
    "s10_merge_schema" -> ((s, d) => {
      val out = scratch("graft_evo")
      Tables.orders(s, d).filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$out/b=1")
      Tables.orders(s, d)
        .filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$out/b=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .select(col("o_orderkey"), col("o_totalprice"),
          coalesce(col("o_orderstatus"), lit("?")).as("status"))
        .orderBy(col("o_orderkey"))
    }),

    // S2b: malformed-row policy — DROPMALFORMED discards rows that fail
    // the declared schema (bad int, wrong arity) instead of nulling or
    // failing the job; the ingest-dirty-feeds ETL policy. Corrupt lines
    // are injected into an otherwise-clean CSV, and the read-back must
    // equal the clean table.
    // S11: compression-codec control — the storage knob an ETL tool
    // exposes per table (hot data snappy, cold data zstd). Write the same
    // slice under both codecs, read both back through the vectorized
    // reader; the join proves byte-identical values. At 100 TB codec
    // choice changes scan cost 2–3×, not semantics — which is the point.
    "s11_codec_roundtrip" -> ((s, d) => {
      val out = scratch("graft_codec")
      val src = Tables.customer(s, d).filter(col("c_custkey") < 200)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      src.write.mode("overwrite").option("compression", "zstd").parquet(s"$out/z")
      src.write.mode("overwrite").option("compression", "snappy").parquet(s"$out/s")
      val z = s.read.parquet(s"$out/z")
      val sn = s.read.parquet(s"$out/s")
        .withColumnRenamed("c_name", "n2").withColumnRenamed("c_acctbal", "b2")
      z.join(sn, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          (col("c_name") === col("n2") && col("c_acctbal") === col("b2")).as("codecs_agree"))
        .orderBy(col("c_custkey"))
    }),

    // S3b: malformed-JSON policy — the JSONL twin of s2b: truncated JSON
    // and a type-mismatched field are injected, DROPMALFORMED discards
    // both whole rows, and the read-back must equal the clean table.
    "s3b_json_malformed" -> ((s, d) => {
      val out = scratch("graft_badjson")
      val lines = Tables.nation(s, d)
        .select(to_json(struct(col("n_nationkey"), col("n_name"),
          col("n_regionkey"))).as("value"))
        .unionByName(s.range(1)
          .select(lit("""{"n_nationkey": 99, "n_name": "TRUNC""").as("value")))
        .unionByName(s.range(1)
          .select(lit("""{"n_nationkey": "notanint", "n_name": "BADTYPE", "n_regionkey": 7}""")
            .as("value")))
      lines.coalesce(1).write.mode("overwrite").text(out)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("mode", "DROPMALFORMED").json(out)
        .orderBy(col("n_nationkey"))
    }),

    "s2b_csv_malformed" -> ((s, d) => {
      val out = scratch("graft_badcsv")
      val lines = Tables.nation(s, d)
        .select(concat_ws(",", col("n_nationkey"), col("n_name"),
          col("n_regionkey")).as("value"))
        .unionByName(s.range(1)
          .select(lit("badrow,EXTRA,9,too,many,columns").as("value")))
        .unionByName(s.range(1)
          .select(lit("notanint,PARSEFAIL,7").as("value")))
      lines.coalesce(1).write.mode("overwrite").text(out)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("mode", "DROPMALFORMED").csv(out)
        .orderBy(col("n_nationkey"))
    }),

    // S12: binary-file source — THE multimodal landing pattern: raw
    // image/audio/doc payloads live as individual objects, and
    // `binaryFile` ingests them as (path, length, content) rows with
    // pathGlobFilter/recursiveFileLookup pruning at the listing stage.
    // The write side is a distributed foreachPartition (each task writes
    // its own rows' files — no driver collect); the read side checksums
    // the bytes so the oracle proves content integrity end-to-end
    // (md5 of UTF-8 text bytes matches DuckDB's md5 over the same text).
    "s12_binary_files" -> ((s, d) => {
      val out = scratch("graft_bin")
      Tables.documents(s, d).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, s"doc_${r.getLong(0)}.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(out)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy(col("doc_id"))
    }),

    // S13: XML round-trip — Spark 4's built-in XML source (the remaining
    // text format an ETL tool ingests: feeds, configs, legacy exports).
    // Writer emits one <nation> row element per record; reader parses
    // with an explicit schema (no inference pass, same policy as S2/S3).
    "s13_xml_roundtrip" -> ((s, d) => {
      val out = scratch("graft_xml")
      Tables.nation(s, d).orderBy(col("n_nationkey"))
        .coalesce(1).write.mode("overwrite")
        .option("rowTag", "nation").format("xml").save(out)
      s.read.format("xml").option("rowTag", "nation")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .load(out)
        .orderBy(col("n_nationkey"))
    }),

    // S14: bucketed tables + co-located join — THE repeated-big-big-join
    // pattern: both fact tables bucketed (and sorted) on the join key at
    // write time, so every subsequent join on that key plans as a
    // SortMergeJoin with ZERO pre-join Exchange (plan evidence in
    // PLANS.md's audit list; this query puts the read-side ANSWER under the
    // oracle gate). Tables live in a scratch-located database; setup is
    // cached per (session, sf-dir) like j11's.
    "s14_bucketed_join" -> ((s, d) => {
      // serialized check-then-act (same rationale as j11's cboBuilt lock)
      bucketedBuilt.synchronized {
        if (bucketedBuilt.get(s.sparkContext) != d) {
          val loc = scratch("graft_bktdb")
          s.sql(s"CREATE DATABASE IF NOT EXISTS graft_bkt LOCATION '$loc'")
          Seq("ord_b", "li_b").foreach(t =>
            s.sql(s"DROP TABLE IF EXISTS graft_bkt.$t"))
          Tables.orders(s, d).write
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .saveAsTable("graft_bkt.ord_b")
          Tables.lineitem(s, d).write
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .saveAsTable("graft_bkt.li_b")
          bucketedBuilt.put(s.sparkContext, d)
        }
      }
      s.table("graft_bkt.ord_b")
        .join(s.table("graft_bkt.li_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("rev"))
        .orderBy(col("o_orderpriority"))
    }),

    // S6: directory-partitioned layout — write orders partitioned by
    // status, read the tree back, filter one partition (pruning).
    "s6_partitioned_scan" -> ((s, d) => {
      val out = scratch("graft_part")
      Tables.orders(s, d)
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // S20: recursive + glob scan options — reading a lake directory
    // whose layout is NOT a Hive partition tree (vendor drops, manual
    // date dirs, mixed-format folders). `recursiveFileLookup` walks
    // nested dirs WITHOUT partition inference; `pathGlobFilter` skips
    // non-parquet clutter file-by-file. The fixture plants a JSON decoy
    // whose CONTENT would crash a parquet read — if the glob filter
    // ever stopped applying, the query fails loudly instead of
    // silently changing rows. At 100 TB these two options are the
    // difference between listing a prefix once and a full partition
    // discovery pass over millions of dirs.
    "s20_scan_options" -> ((s, d) => {
      val base = fixtureOnce("graft_s20", d) { out =>
        val n = Tables.customer(s, d).select(
          col("c_custkey"), col("c_name"), col("c_nationkey"))
        n.filter(col("c_custkey") % 2 === 0)
          .write.mode("overwrite").parquet(s"$out/drop1/inner")
        n.filter(col("c_custkey") % 2 === 1)
          .write.mode("overwrite").parquet(s"$out/drop2")
        // decoy: valid JSON, invalid parquet — must be glob-skipped
        n.filter(col("c_custkey") < 5)
          .write.mode("overwrite").json(s"$out/drop2/clutter")
      }
      s.read
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(base)
        .filter(col("c_nationkey") < 20)
        .orderBy(col("c_custkey"))
    }),

    // S21: CORRUPT-FILE tolerance — a long-lived lake accumulates
    // truncated/garbage files (killed writers, partial uploads); the
    // operational choice is per-read: `ignoreCorruptFiles` skips them,
    // the default FAILS the query (EdgeCaseSpec pins the loud default).
    // The fixture plants a file that *claims* to be parquet (right
    // extension, PAR1 magic) with a garbage footer; the explicit schema
    // keeps analysis off the corrupt footer so the skip decision is
    // made at EXECUTION, where it belongs. Per-read OPTION, not a
    // session conf — hermetic, nothing leaks to other queries.
    "s21_corrupt_files" -> ((s, d) => {
      val base = fixtureOnce("graft_s21", d) { out =>
        Tables.supplier(s, d).write.mode("overwrite").parquet(s"$out/data")
        val w = new java.io.FileOutputStream(
          s"$out/data/part-corrupt.parquet")
        w.write("PAR1 not actually a parquet footer PAR".getBytes("UTF-8"))
        w.close()
      }
      s.read.schema(Tables.supplier(s, d).schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(s"$base/data")
        .orderBy(col("s_suppkey"))
    }),

    // S15: small-file COMPACTION — the table-maintenance pass every
    // long-running 100 TB lake needs (streaming/incremental writers leave
    // hundreds of small files per partition; scan cost and namenode
    // pressure grow with file count, not bytes). A 40-task partitioned
    // write fabricates the problem, then the compaction pass clusters by
    // the partition key (`repartition(partitionCol)`) so every partition
    // directory collapses to exactly ONE file — each key hashes to one
    // shuffle task regardless of AQE coalescing. The result proves BOTH
    // halves: content identical to the source rollup (oracle), layout at
    // the target (n_files = distinct input_file_name per partition = 1).
    "s15_compaction" -> ((s, d) => {
      val small = scratch("graft_small")
      val compacted = scratch("graft_compacted")
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("vq"))
        .repartition(40)
        .write.partitionBy("event_type").mode("overwrite").parquet(small)
      s.read.parquet(small)
        .repartition(col("event_type"))
        .write.partitionBy("event_type").mode("overwrite").parquet(compacted)
      s.read.parquet(compacted)
        // project the file name first — nondeterministic expressions may
        // not appear inside aggregate arguments
        .withColumn("fname", input_file_name())
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("vq")).as("v_q6"),
          countDistinct(col("fname")).cast("long").as("n_files"))
        .orderBy(col("event_type"))
    }),

    // S17: snapshot versioning + TIME TRAVEL over immutable parquet —
    // the manifest-pointer core of every lakehouse table format, built
    // from nothing but parquet files and one text file per version:
    // commit v1 (orders < 5000), then commit v2 appending
    // [5000, 10000); v1's manifest still pins exactly the old files,
    // so BOTH versions read back correct simultaneously. The gate
    // result is the per-version rollup — time travel is real only if
    // v1's numbers are untouched by v2's commit. Scale: a commit costs
    // one manifest write regardless of table size; readers plan from a
    // file LIST (no directory listing race); vacuuming old versions is
    // file deletion gated on manifest reachability.
    "s17_snapshot_time_travel" -> ((s, d) => {
      val base = scratch("graft_s17")
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_q2"))
      val v1 = Snapshots.commit(
        orders.filter(col("o_orderkey") < 5000), base, 1, Nil)
      Snapshots.commit(
        orders.filter(col("o_orderkey") >= 5000 &&
          col("o_orderkey") < 10000), base, 2, v1)
      def rollup(version: Int) =
        Snapshots.read(s, base, version)
          .agg(count(lit(1)).as("n"),
            sum(col("o_custkey")).as("cust_sum"),
            sum(col("price_q2")).as("price_q2_sum"))
          .select(lit(version.toLong).as("version"), col("n"),
            col("cust_sum"), col("price_q2_sum"))
      rollup(1).unionByName(rollup(2)).orderBy(col("version"))
    }),

    // S19: CHANGE DATA FEED between two committed snapshots — the Delta
    // CDF / Iceberg-changelog read every downstream incremental consumer
    // wants ("give me what changed between v1 and v2" instead of a full
    // re-read). v2 rewrites v1 with deletes (key % 10 = 3), updates
    // (price bump on key % 10 = 7), and fresh inserts; the feed is ONE
    // key-keyed FULL OUTER JOIN of the two manifest-pinned snapshot
    // reads, classified into the Delta row shape: insert / delete /
    // update_preimage / update_postimage (updates emit BOTH images —
    // that is what lets a consumer maintain any aggregate
    // incrementally). At 100 TB both sides partition by the join key
    // and unchanged rows never leave the join; a real lakehouse CDF
    // additionally prunes to the files the commit touched — the manifest
    // machinery here holds exactly that file list per version.
    "s19_cdc_feed" -> ((s, d) => {
      val base = scratch("graft_s19")
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_q2"))
      val v1df = orders.filter(col("o_orderkey") < 8000)
      val v2df = v1df.filter(col("o_orderkey") % 10 =!= 3)
        .withColumn("price_q2",
          when(col("o_orderkey") % 10 === 7, col("price_q2") + 1000L)
            .otherwise(col("price_q2")))
        .unionByName(orders.filter(col("o_orderkey") >= 8000 &&
          col("o_orderkey") < 10000))
      Snapshots.commit(v1df, base, 1, Nil)
      Snapshots.commit(v2df, base, 2, Nil)
      val a = Snapshots.read(s, base, 1).as("v1")
      val b = Snapshots.read(s, base, 2).as("v2")
      val j = a.join(b, col("v1.o_orderkey") === col("v2.o_orderkey"),
        "full_outer").localCheckpoint()
      def shape(side: String, tag: String)(rows: DataFrame) =
        rows.select(col(s"$side.o_orderkey").as("o_orderkey"),
          col(s"$side.o_custkey").as("o_custkey"),
          col(s"$side.price_q2").as("price_q2"),
          lit(tag).as("change_type"))
      val upd = j.filter(col("v1.o_orderkey").isNotNull &&
        col("v2.o_orderkey").isNotNull &&
        (col("v1.price_q2") =!= col("v2.price_q2") ||
          col("v1.o_custkey") =!= col("v2.o_custkey")))
      shape("v2", "insert")(j.filter(col("v1.o_orderkey").isNull))
        .unionByName(shape("v1", "delete")(
          j.filter(col("v2.o_orderkey").isNull)))
        .unionByName(shape("v1", "update_preimage")(upd))
        .unionByName(shape("v2", "update_postimage")(upd))
        .orderBy(col("o_orderkey"), col("change_type"))
    }),

    // S18: column profiling — the pre-publish PROFILE report every ETL
    // tool renders (null counts, exact distinct cardinality, min/max)
    // for a table's key columns, here in ONE pass: a single aggregate
    // carries the conditional null-sums, the multi-distinct counts
    // (Spark plans them via one Expand — k× the rows of ONE scan, not
    // k scans), and min/max; stack() unpivots the 1-row result into
    // one row per column. At 100 TB swap the exact distincts for
    // approx_count_distinct and the Expand disappears — same report
    // shape. min/max render AFTER aggregation (min-of-value cast to
    // string, never min-of-string — '10' < '9' lexically); profiled
    // columns are integer/varchar so the rendering is engine-stable.
    "s18_profile" -> ((s, d) => {
      // the 4-column exact-distinct profile Expands every row 5× and the
      // single-file scan gives it one partition — fanOut parallelizes the
      // Expand+partial-distinct (no-op at scale, see Par.fanOut)
      val o = Par.fanOut(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority")),
        col("o_orderkey"))
      def stats(c: String, tag: String) = Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$tag"),
        countDistinct(col(c)).cast("long").as(s"nd_$tag"),
        min(col(c)).cast("string").as(s"mi_$tag"),
        max(col(c)).cast("string").as(s"ma_$tag"))
      val wide = o.agg(count(lit(1)).as("n_rows"),
        (stats("o_orderkey", "ok") ++ stats("o_custkey", "ck") ++
          stats("o_orderstatus", "os") ++ stats("o_orderpriority", "op")): _*)
      wide.select(col("n_rows"), expr(
        """stack(4,
          |  'o_custkey',      nn_ck, nd_ck, mi_ck, ma_ck,
          |  'o_orderkey',     nn_ok, nd_ok, mi_ok, ma_ok,
          |  'o_orderpriority',nn_op, nd_op, mi_op, ma_op,
          |  'o_orderstatus',  nn_os, nd_os, mi_os, ma_os)
          |  AS (col_name, n_nulls, n_distinct, min_s, max_s)"""
          .stripMargin))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_s"), col("max_s"))
        .orderBy(col("col_name"))
    }),

    // S16: Z-ORDER (Morton-curve) layout for MULTI-dimensional data
    // skipping — the OPTIMIZE ZORDER story every lakehouse ETL tool
    // ships: a table queried by 2-D box predicates is rewritten sorted
    // by the bit-interleaved z-value of the two filter columns, so each
    // output file covers a small z-curve segment ≈ a small rectangle in
    // (partkey, suppkey) space and its parquet min/max stats prune
    // whole files/row-groups for ANY box on EITHER dimension — a single
    // -column sort can only ever prune on its leading column.
    // 31 bits per dimension (62-bit z-value) so the interleave stays
    // order-correct for key domains up to 2^31 — the layout decision
    // survives the 100 TB key space, not just the test SF's.
    // ZOrderSpec proves the skipping claim from the written footers:
    // strictly fewer files overlap the box under z-layout than under a
    // same-file-count single-column sort. The gate here checks content:
    // the rewritten table answers the box query byte-identically.
    "s16_zorder_layout" -> ((s, d) => {
      val zdir = scratch("graft_s16z")
      writeZOrdered(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice")),
        "l_partkey", "l_suppkey", 16, zdir)
      s.read.parquet(zdir)
        .filter(col("l_partkey").between(10, 40) &&
          col("l_suppkey").between(2, 7))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("qty_q2"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
            .as("price_q2"))
        .orderBy(col("l_suppkey"))
    })
  )

  // S17: snapshot helper — the minimal manifest-pointer design behind
  // every table format (Iceberg/Delta): data files are IMMUTABLE, a
  // version is a manifest listing exactly the files visible to it, and
  // a commit is one atomic manifest write. Readers pin a manifest and
  // see a consistent snapshot regardless of concurrent appends; old
  // versions stay readable (time travel) until their files are vacuumed.
  private[graft] object Snapshots {
    import java.nio.file.{Files => JFiles, Paths}

    /** Write `df` as new immutable data files under `base/data-vN` and
      * commit version N whose manifest = `carry`'s files + the new ones.
      * Returns the committed file list. */
    def commit(df: DataFrame, base: String, version: Int,
        carry: Seq[String]): Seq[String] = {
      val dataDir = s"$base/data-v$version"
      df.write.mode("overwrite").parquet(dataDir)
      val fresh = new java.io.File(dataDir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && f.length() > 0)
        .map(_.getAbsolutePath).sorted.toSeq
      val all = carry ++ fresh
      JFiles.createDirectories(Paths.get(s"$base/manifests"))
      // one-file manifest write = the atomic commit pointer
      JFiles.writeString(Paths.get(s"$base/manifests/v$version.json"),
        all.mkString("\n"))
      all
    }

    /** Read the snapshot a manifest pins — only its files, nothing newer. */
    def read(s: SparkSession, base: String, version: Int): DataFrame = {
      val files = JFiles.readString(
        Paths.get(s"$base/manifests/v$version.json")).split("\n").toSeq
      s.read.parquet(files: _*)
    }
  }

  /** 31-bit value with its bits spread to the even positions of a
    * 62-bit word (bit i → bit 2i) — the classic mask-doubling Morton
    * spread: 5 shift-or-mask rounds of plain long arithmetic, all
    * inside whole-stage codegen. (The first-draft 31-round
    * `aggregate(sequence(0,30), …)` fold was a HOF — interpreted
    * per element, outside codegen — and benched 9 s at sf0.1; this
    * form is ~10 long ops/row.) */
  private def spread31(c: Column): Column = {
    val masks = Seq(
      16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
      4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
      1 -> 0x5555555555555555L)
    masks.foldLeft(c.bitwiseAND(lit(0x7FFFFFFFL))) {
      case (v, (s, m)) => v.bitwiseOR(shiftleft(v, s)).bitwiseAND(lit(m))
    }
  }

  /** Interleaved 62-bit z-value of two long columns (dim1 even bits,
    * dim2 odd bits); key domains up to 2^31 keep exact order. */
  private[graft] def zValue(dim1: Column, dim2: Column): Column =
    spread31(dim1).bitwiseOR(shiftleft(spread31(dim2), 1))

  /** Rewrite `df` as `nFiles` parquet files range-partitioned and sorted
    * by the interleaved 62-bit z-value of two long columns. The z-value
    * is computed in plain codegen'd bit arithmetic (no UDF, no HOF) and
    * dropped before the write — it exists only to steer the layout.
    */
  private[graft] def writeZOrdered(df: DataFrame, dim1: String, dim2: String,
      nFiles: Int, dir: String): Unit = {
    df.withColumn("__graft_z", zValue(col(dim1), col(dim2)))
      .repartitionByRange(nFiles, col("__graft_z"))
      .sortWithinPartitions(col("__graft_z"))
      .drop("__graft_z")
      .write.mode("overwrite").parquet(dir)
  }

  val oracleSql: Map[String, String] = Map(
    "s1_parquet_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_quantity > 45.0
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "s2_csv_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    "s10_merge_schema" ->
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey < 1000 THEN '?' ELSE o_orderstatus END AS status
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin,

    "s2b_csv_malformed" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "s3b_json_malformed" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "s11_codec_roundtrip" ->
      """SELECT c_custkey, c_name, c_acctbal, TRUE AS codecs_agree
        |FROM customer WHERE c_custkey < 200 ORDER BY c_custkey""".stripMargin,

    "s3_json_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "s4_parquet_sink" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "s13_xml_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "s14_bucketed_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, ${dsumSql("l_extendedprice")} AS rev
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "s12_binary_files" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents WHERE doc_id < 60 ORDER BY doc_id""".stripMargin,

    "s6_partitioned_scan" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders WHERE o_orderstatus = 'F'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "s20_scan_options" ->
      // the recursive+glob read unions exactly the two parquet drops
      // (every customer row once); the JSON decoy contributes nothing
      """SELECT c_custkey, c_name, c_nationkey
        |FROM customer WHERE c_nationkey < 20
        |ORDER BY c_custkey""".stripMargin,

    "s21_corrupt_files" ->
      // skipping the planted corrupt file leaves exactly the source rows
      "SELECT * FROM supplier ORDER BY s_suppkey",

    "s7_jdbc_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "s8_orc_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",

    "s9_partition_overwrite" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2.0 ELSE o_totalprice END")} AS total
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "s15_compaction" ->
      // content equality vs the raw source + the post-compaction layout
      // invariant (exactly one file per partition directory)
      """SELECT event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS v_q6,
        |  CAST(1 AS BIGINT) AS n_files
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "s18_profile" ->
      // one profile row per column off a single wide aggregate
      """WITH s AS (
        |  SELECT COUNT(*) AS n_rows,
        |    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nn_ok,
        |    COUNT(DISTINCT o_orderkey) AS nd_ok,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS mi_ok,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS ma_ok,
        |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn_ck,
        |    COUNT(DISTINCT o_custkey) AS nd_ck,
        |    CAST(MIN(o_custkey) AS VARCHAR) AS mi_ck,
        |    CAST(MAX(o_custkey) AS VARCHAR) AS ma_ck,
        |    SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nn_os,
        |    COUNT(DISTINCT o_orderstatus) AS nd_os,
        |    CAST(MIN(o_orderstatus) AS VARCHAR) AS mi_os,
        |    CAST(MAX(o_orderstatus) AS VARCHAR) AS ma_os,
        |    SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nn_op,
        |    COUNT(DISTINCT o_orderpriority) AS nd_op,
        |    CAST(MIN(o_orderpriority) AS VARCHAR) AS mi_op,
        |    CAST(MAX(o_orderpriority) AS VARCHAR) AS ma_op
        |  FROM orders)
        |SELECT 'o_custkey' AS col_name, n_rows,
        |  CAST(nn_ck AS BIGINT) AS n_nulls, CAST(nd_ck AS BIGINT) AS n_distinct,
        |  mi_ck AS min_s, ma_ck AS max_s FROM s
        |UNION ALL SELECT 'o_orderkey', n_rows,
        |  CAST(nn_ok AS BIGINT), CAST(nd_ok AS BIGINT), mi_ok, ma_ok FROM s
        |UNION ALL SELECT 'o_orderpriority', n_rows,
        |  CAST(nn_op AS BIGINT), CAST(nd_op AS BIGINT), mi_op, ma_op FROM s
        |UNION ALL SELECT 'o_orderstatus', n_rows,
        |  CAST(nn_os AS BIGINT), CAST(nd_os AS BIGINT), mi_os, ma_os FROM s
        |ORDER BY col_name""".stripMargin,

    "s17_snapshot_time_travel" ->
      // v1 must equal the pre-append state even though v2 has committed
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_q2
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
        |  CAST(SUM(price_q2) AS BIGINT) AS price_q2_sum
        |FROM o WHERE o_orderkey < 5000
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS version, COUNT(*) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
        |  CAST(SUM(price_q2) AS BIGINT) AS price_q2_sum
        |FROM o WHERE o_orderkey < 10000
        |ORDER BY version""".stripMargin,

    "s19_cdc_feed" ->
      // the same v1/v2 states derived logically from the base table;
      // the Spark side must produce them from the manifest-pinned
      // snapshot files
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_q2
        |  FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey < 8000),
        |v2 AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 7 THEN price_q2 + 1000
        |         ELSE price_q2 END AS price_q2
        |  FROM v1 WHERE o_orderkey % 10 != 3
        |  UNION ALL
        |  SELECT * FROM o WHERE o_orderkey >= 8000 AND o_orderkey < 10000),
        |j AS (
        |  SELECT v1.o_orderkey AS k1, v1.o_custkey AS c1, v1.price_q2 AS p1,
        |    v2.o_orderkey AS k2, v2.o_custkey AS c2, v2.price_q2 AS p2
        |  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
        |SELECT k2 AS o_orderkey, c2 AS o_custkey, p2 AS price_q2,
        |  'insert' AS change_type FROM j WHERE k1 IS NULL
        |UNION ALL
        |SELECT k1, c1, p1, 'delete' FROM j WHERE k2 IS NULL
        |UNION ALL
        |SELECT k1, c1, p1, 'update_preimage' FROM j
        |WHERE k1 IS NOT NULL AND k2 IS NOT NULL AND (p1 != p2 OR c1 != c2)
        |UNION ALL
        |SELECT k2, c2, p2, 'update_postimage' FROM j
        |WHERE k1 IS NOT NULL AND k2 IS NOT NULL AND (p1 != p2 OR c1 != c2)
        |ORDER BY o_orderkey, change_type""".stripMargin,

    "s16_zorder_layout" ->
      // content equality through the z-ordered rewrite: the layout may
      // only change WHERE rows live, never what the box query answers
      """SELECT l_suppkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS qty_q2,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS price_q2
        |FROM lineitem
        |WHERE l_partkey BETWEEN 10 AND 40 AND l_suppkey BETWEEN 2 AND 7
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin
  )
}
