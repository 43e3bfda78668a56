package graft.ops

import graft.{Det, GraftSession, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2.6 — sort / limit / set ops / subqueries / CTE / UNNEST / PIVOT.
  *
  * Scale notes: ORDER BY+LIMIT plans as TakeOrderedAndProject (per-partition
  * top-k + merge — no global sort); set ops shuffle on the full row hash
  * only for the DISTINCT variants; UNNEST (explode) is pipelined, no
  * shuffle.
  */
object Relational extends QueryModule {
  import Det._

  val queries: Map[String, Q] = Map(
    // O1: multi-key sort with explicit null placement (nulls synthesized).
    "o1_sort_nulls" -> ((s, d) => {
      Tables.customer(s, d).filter(col("c_custkey") < 200)
        .select(col("c_custkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
          col("c_acctbal"))
        .orderBy(col("seg_or_null").asc_nulls_first,
          col("c_acctbal").desc_nulls_last, col("c_custkey"))
    }),

    // O2: ORDER BY + LIMIT top-k (TakeOrderedAndProject — no global sort).
    "o2_topn" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    }),

    // O3: UNION ALL + UNION DISTINCT of two event slices.
    "o3_union" -> ((s, d) => {
      val e = Tables.events(s, d)
      val a = e.filter(col("event_type") === "purchase").select(col("user_id"))
      val b = e.filter(col("value") > 90.0).select(col("user_id"))
      val unionAllCnt = a.unionAll(b).groupBy(col("user_id")).agg(count(lit(1)).as("n_all"))
      val unionDistinct = a.union(b).distinct()
        .withColumn("in_distinct", lit(1L))
      unionAllCnt.join(unionDistinct, Seq("user_id"), "left")
        .select(col("user_id"), col("n_all"), col("in_distinct"))
        .orderBy(col("user_id"))
    }),

    // O4: INTERSECT / EXCEPT (distinct semantics).
    // O15: SCD Type-2 history build — the warehouse-ETL operator that
    // turns a change stream into a versioned dimension: each (key,
    // effective-date) version gets valid_from/valid_to (next version's
    // start) and an is_current flag. One lead() window per key — at
    // 100 TB this shuffles only (key, date, attribute) triples.
    "o15_scd2_history" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("valid_from"), col("o_orderkey"))
      val far = lit("2199-12-31 00:00:00").cast("timestamp")
      Tables.orders(s, d).filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").as("valid_from"), col("o_totalprice"))
        .withColumn("valid_to", coalesce(lead(col("valid_from"), 1).over(w), far))
        .withColumn("is_current", col("valid_to") === far)
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
    }),

    // O4b: INTERSECT ALL / EXCEPT ALL — the multiset (bag) semantics the
    // distinct forms in o4 don't exercise: intersect keeps
    // min(multiplicity), except keeps max(0, m₁−m₂). Spark plans both as
    // an aggregate over counts, not a join explosion — scale-safe.
    "o4b_intersect_except_all" -> ((s, d) => {
      val e = Tables.events(s, d)
      val buyers = e.filter(col("event_type") === "purchase").select(col("user_id"))
      val errorers = e.filter(col("event_type") === "error").select(col("user_id"))
      val both = buyers.intersectAll(errorers).withColumn("relation", lit("both_ms"))
      val onlyBuy = buyers.exceptAll(errorers).withColumn("relation", lit("buy_ms"))
      both.unionAll(onlyBuy)
        .orderBy(col("relation"), col("user_id"))
    }),

    // O14: VALUES inline-table constructor (Presto `VALUES` / inline dim):
    // a literal mapping table joined against a real table — the config-dim
    // pattern (cf. l18's broadcast weights) in pure SQL.
    "o14_values" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """SELECT r.r_name, m.tier
          |FROM region r
          |JOIN (VALUES (0, 'core'), (1, 'core'), (2, 'growth'), (3, 'growth'),
          |             (4, 'frontier')) AS m(rk, tier)
          |  ON r.r_regionkey = m.rk
          |ORDER BY r.r_name""".stripMargin)
    }),

    "o4_intersect_except" -> ((s, d) => {
      val e = Tables.events(s, d)
      val buyers = e.filter(col("event_type") === "purchase").select(col("user_id"))
      val errorers = e.filter(col("event_type") === "error").select(col("user_id"))
      val both = buyers.intersect(errorers).withColumn("relation", lit("both"))
      val onlyBuy = buyers.except(errorers).withColumn("relation", lit("buy_only"))
      both.unionAll(onlyBuy)
        .orderBy(col("relation"), col("user_id"))
    }),

    // O5: scalar + correlated subqueries (Catalyst decorrelates).
    "o5_subqueries" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """SELECT c_custkey, c_acctbal,
          |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
          |FROM customer
          |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
          |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          |              AND o_totalprice > 300000.0)
          |ORDER BY c_custkey""".stripMargin)
    }),

    // O5b: NOT IN with a null in the subquery — three-valued logic makes
    // the predicate never-true (contrast with J4's NOT EXISTS).
    "o5b_not_in_nulls" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """SELECT
          |  (SELECT COUNT(*) FROM customer
          |   WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 3) FROM orders)) AS n_not_in_with_null,
          |  (SELECT COUNT(*) FROM customer
          |   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL
          |                           AND o_totalprice > 400000.0)) AS n_not_in_clean
          |""".stripMargin)
    }),

    // O6: CTE chain (WITH ... ) over temp views.
    "o6_cte" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """WITH nat AS (
          |  SELECT n_nationkey, n_name FROM nation),
          |cust_per_nat AS (
          |  SELECT c_nationkey, COUNT(*) AS n_cust
          |  FROM customer GROUP BY c_nationkey)
          |SELECT n_name, COALESCE(n_cust, 0) AS n_cust
          |FROM nat LEFT JOIN cust_per_nat ON n_nationkey = c_nationkey
          |ORDER BY n_name""".stripMargin)
    }),

    // O7: UNNEST array → rows with position (posexplode).
    "o7_unnest" -> ((s, d) => {
      Tables.embeddings(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .filter(col("pos") < 8)
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("val").cast("double").as("val"))
        .orderBy(col("vec_id"), col("pos"))
    }),

    // O7b: UNNEST a MAP → (key, value) rows (Presto UNNEST over map
    // columns): the props JSON promotes to map<string,int> and explodes
    // row-locally — pipelined, no shuffle, like O7.
    "o7b_unnest_map" -> ((s, d) => {
      Tables.events(s, d).filter(col("event_id") < 500)
        .select(col("event_id"),
          from_json(col("props"), lit("map<string,int>")).as("m"))
        .select(col("event_id"), explode(col("m")).as(Seq("k", "v")))
        .select(col("event_id"), col("k"), col("v").cast("long").as("v"))
        .orderBy(col("event_id"), col("k"))
    }),

    // O8: PIVOT event counts by type per user.
    // O8b: UNPIVOT — wide columns to (attr, val) rows (Presto/Trino and
    // DuckDB UNPIVOT; the inverse of O8). Pipelined row-local expansion,
    // no shuffle.
    "o8b_unpivot" -> ((s, d) => {
      Tables.part(s, d).filter(col("p_partkey") < 300)
        .select(col("p_partkey"),
          col("p_size").cast("double").as("p_size"),
          col("p_retailprice").cast("double").as("p_retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")), "attr", "val")
        .orderBy(col("p_partkey"), col("attr"))
    }),

    // O11: keyed upsert (MERGE shape without a row-level-ops catalog):
    // updates override base rows by key, inserts pass through. The
    // union + per-key priority pick is the engine-agnostic merge — one
    // shuffle on the key; at 100 TB this is the dynamic-partition-
    // overwrite companion for unpartitioned keyed tables.
    "o11_upsert" -> ((s, d) => {
      val base = Tables.orders(s, d).filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
          lit(0).as("is_upd"))
      val updates = Tables.orders(s, d)
        .filter(col("o_orderkey") < 2000 && col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("o_totalprice"),
          lit("U").as("o_orderstatus"), lit(1).as("is_upd"))
      base.unionByName(updates)
        .groupBy(col("o_orderkey"))
        .agg(max(struct(col("is_upd"), col("o_totalprice"), col("o_orderstatus"))).as("m"))
        .select(col("o_orderkey"), col("m.o_totalprice").as("o_totalprice"),
          col("m.o_orderstatus").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // O11b: keyed copy-on-write MERGE into a partitioned parquet table —
    // the persisted half of O11 (which merges in-memory only) built on
    // S9's dynamic partition overwrite. The Delta/Iceberg-style COW loop:
    // (1) plan: touched partitions = old partitions holding updated keys
    // (left-semi against the broadcast update batch) ∪ partitions of
    // inserts — a metadata-plane list (≤ #distinct statuses; the one
    // driver-side collect is over partition NAMES, never rows); (2) read
    // ONLY those partitions (static PartitionFilters via isin — pruned
    // scan), merge updates by key, append inserts; (3) dynamic overwrite
    // rewrites exactly the touched partitions. The full read-back is the
    // proof: untouched partitions must have survived byte-for-byte. At
    // 100 TB cost scales with touched data, not table size.
    "o11b_merge_cow" -> ((s, d) => {
      val out = Sources.scratch("graft_cow")
      val base = Tables.orders(s, d).filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      base.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      val upd = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("new_price"))
      val ins = Tables.region(s, d).select(
        (lit(9000000L) + col("r_regionkey")).as("o_orderkey"),
        (lit(100.0) + col("r_regionkey")).as("o_totalprice"),
        lit("N").as("o_orderstatus"))
      val tbl = s.read.parquet(out)
      val touched = tbl.join(broadcast(upd), Seq("o_orderkey"), "left_semi")
        .select(col("o_orderstatus")).distinct()
        .unionByName(ins.select(col("o_orderstatus")).distinct()).distinct()
        .collect().map(_.getString(0)).toSeq
      val merged = tbl.filter(col("o_orderstatus").isin(touched: _*))
        .join(broadcast(upd), Seq("o_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("new_price"), col("o_totalprice")).as("o_totalprice"),
          col("o_orderstatus"))
        .unionByName(ins)
        // break lineage from `out` so overwriting the dir we read is legal
        .localCheckpoint()
      GraftSession.withConf(s,
          "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        merged.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      }
      s.read.parquet(out)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // O9b: deterministic stratified sampling — per-stratum fixed-size
    // sample keyed by a content hash (not a RNG), so the sample is stable
    // across engines, partitionings, and reruns: the training-data way to
    // subsample. One window per stratum; at scale this is a per-group
    // top-k (WindowGroupLimit prunes before the shuffle).
    "o9b_stratified_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("lang"), col("rn"), col("doc_id"))
        .orderBy(col("lang"), col("rn"))
    }),

    // O12: recursive CTE (Spark 4 WITH RECURSIVE) — date-spine gap fill,
    // the ETL pattern for zero-filling sparse time series. Spark executes
    // each recursion step as a separate job (fresh codegen + scheduling per
    // iteration), so iteration count — not row count — is the cost driver.
    // The recursion therefore walks COARSE quarter steps (4 iterations) and
    // each step fans out to months with sequence(): same spine, 3× fewer
    // iterations. (Measured: 12-step recursion ~1.6 s at local[4] vs ~0.5 s
    // for this shape; a REPARTITION(1) hint in the recursive member makes
    // it WORSE — 5.1 s — by adding an exchange per iteration.) At 100 TB
    // the spine stays 12 rows; iteration count is the only thing to tune.
    "o12_recursive_spine" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """WITH RECURSIVE qspine(q) AS (
          |  SELECT CAST('1995-01-01' AS DATE)
          |  UNION ALL
          |  SELECT add_months(q, 3) FROM qspine WHERE q < CAST('1995-10-01' AS DATE)),
          |spine AS (
          |  SELECT explode(sequence(q, add_months(q, 2), INTERVAL 1 MONTH)) AS m
          |  FROM qspine),
          |per_month AS (
          |  SELECT date_format(o_orderdate, 'yyyy-MM') AS ym, COUNT(*) AS n
          |  FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          |    AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
          |  GROUP BY 1)
          |SELECT date_format(m, 'yyyy-MM') AS ym, COALESCE(n, 0) AS n
          |FROM spine LEFT JOIN per_month ON date_format(m, 'yyyy-MM') = ym
          |ORDER BY ym""".stripMargin)
        .select(col("ym"), col("n"))
    }),

    // O13: LATERAL correlated subquery — per-key top-k without a window
    // (Presto/Trino LATERAL): the inner query re-evaluates per outer row.
    "o13_lateral_topk" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        """SELECT c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
          |         WHERE o_custkey = c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |WHERE c_custkey < 100
          |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    }),

    "o8_pivot" -> ((s, d) => {
      Tables.events(s, d).filter(col("user_id") < 25)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    }),

    // O9: TABLESAMPLE — nondeterministic across engines → no oracle;
    // driver records rows-only. Seeded for stability within Spark.
    "o9_sample" -> ((s, d) => {
      Tables.lineitem(s, d).sample(withReplacement = false, 0.1, seed = 42)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // O10: multi-array zip UNNEST WITH ORDINALITY — two parallel slices
    // zipped positionally (arrays_zip) and exploded with a 1-based ordinal.
    // Floats quantized as in sc4 so values hash-match the oracle.
    "o10_unnest_multi" -> ((s, d) => {
      Tables.embeddings(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id"),
          posexplode(arrays_zip(
            expr("slice(embedding, 1, 4)"),
            expr("slice(embedding, 33, 4)"))).as(Seq("pos", "z")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("ord"),
          expr("CAST(floor(CAST(z['0'] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)").as("v1_q"),
          expr("CAST(floor(CAST(z['1'] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)").as("v2_q"))
        .orderBy(col("vec_id"), col("ord"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "o1_sort_nulls" ->
      """SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null, c_acctbal
        |FROM customer WHERE c_custkey < 200
        |ORDER BY seg_or_null ASC NULLS FIRST, c_acctbal DESC NULLS LAST, c_custkey""".stripMargin,

    "o2_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,

    "o3_union" ->
      """WITH a AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |     b AS (SELECT user_id FROM events WHERE value > 90.0),
        |     uall AS (SELECT user_id, COUNT(*) AS n_all
        |              FROM (SELECT * FROM a UNION ALL SELECT * FROM b) GROUP BY user_id),
        |     ud AS (SELECT DISTINCT user_id, 1 AS in_distinct
        |            FROM (SELECT * FROM a UNION SELECT * FROM b))
        |SELECT uall.user_id AS user_id, n_all, CAST(in_distinct AS BIGINT) AS in_distinct
        |FROM uall LEFT JOIN ud ON uall.user_id = ud.user_id
        |ORDER BY user_id""".stripMargin,

    "o4_intersect_except" ->
      """WITH buyers AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |     errorers AS (SELECT user_id FROM events WHERE event_type = 'error')
        |SELECT user_id, 'both' AS relation FROM
        |  (SELECT * FROM buyers INTERSECT SELECT * FROM errorers)
        |UNION ALL
        |SELECT user_id, 'buy_only' AS relation FROM
        |  (SELECT * FROM buyers EXCEPT SELECT * FROM errorers)
        |ORDER BY relation, user_id""".stripMargin,

    "o7b_unnest_map" ->
      """SELECT event_id, k, CAST(json_extract(props, '$.' || k) AS BIGINT) AS v
        |FROM (SELECT event_id, props, unnest(json_keys(props)) AS k
        |      FROM events WHERE event_id < 500)
        |ORDER BY event_id, k""".stripMargin,

    "o15_scd2_history" ->
      """WITH v AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate AS valid_from, o_totalprice,
        |    COALESCE(LEAD(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey),
        |      TIMESTAMP '2199-12-31 00:00:00') AS valid_to
        |  FROM orders WHERE o_custkey < 100)
        |SELECT o_custkey, o_orderkey, valid_from, o_totalprice, valid_to,
        |  valid_to = TIMESTAMP '2199-12-31 00:00:00' AS is_current
        |FROM v ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin,

    "o4b_intersect_except_all" ->
      """WITH buyers AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |     errorers AS (SELECT user_id FROM events WHERE event_type = 'error')
        |SELECT user_id, 'both_ms' AS relation FROM
        |  (SELECT * FROM buyers INTERSECT ALL SELECT * FROM errorers)
        |UNION ALL
        |SELECT user_id, 'buy_ms' AS relation FROM
        |  (SELECT * FROM buyers EXCEPT ALL SELECT * FROM errorers)
        |ORDER BY relation, user_id""".stripMargin,

    "o14_values" ->
      """SELECT r.r_name, m.tier
        |FROM region r
        |JOIN (VALUES (0, 'core'), (1, 'core'), (2, 'growth'), (3, 'growth'),
        |             (4, 'frontier')) AS m(rk, tier)
        |  ON r.r_regionkey = m.rk
        |ORDER BY r.r_name""".stripMargin,

    "o5_subqueries" ->
      """SELECT c_custkey, c_acctbal,
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
        |FROM customer
        |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,

    "o5b_not_in_nulls" ->
      """SELECT
        |  (SELECT COUNT(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 3) FROM orders)) AS n_not_in_with_null,
        |  (SELECT COUNT(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL
        |                           AND o_totalprice > 400000.0)) AS n_not_in_clean
        |""".stripMargin,

    "o6_cte" ->
      """WITH nat AS (
        |  SELECT n_nationkey, n_name FROM nation),
        |cust_per_nat AS (
        |  SELECT c_nationkey, COUNT(*) AS n_cust
        |  FROM customer GROUP BY c_nationkey)
        |SELECT n_name, COALESCE(n_cust, 0) AS n_cust
        |FROM nat LEFT JOIN cust_per_nat ON n_nationkey = c_nationkey
        |ORDER BY n_name""".stripMargin,

    "o7_unnest" ->
      // DuckDB lacks WITH ORDINALITY; index the list explicitly instead.
      """SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
        |       CAST(embedding[i] AS DOUBLE) AS val
        |FROM embeddings, generate_series(1, 8) t(i)
        |WHERE vec_id < 5
        |ORDER BY vec_id, pos""".stripMargin,

    "o12_recursive_spine" ->
      """WITH RECURSIVE spine(m) AS (
        |  SELECT CAST('1995-01-01' AS DATE)
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH FROM spine WHERE m < CAST('1995-12-01' AS DATE)),
        |per_month AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS ym, COUNT(*) AS n
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
        |  GROUP BY 1)
        |SELECT strftime(m, '%Y-%m') AS ym, COALESCE(n, 0) AS n
        |FROM spine LEFT JOIN per_month ON strftime(m, '%Y-%m') = ym
        |ORDER BY ym""".stripMargin,

    "o13_lateral_topk" ->
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c_custkey < 100
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "o8b_unpivot" ->
      """SELECT p_partkey, attr, val
        |FROM (UNPIVOT (SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size,
        |                      CAST(p_retailprice AS DOUBLE) AS p_retailprice
        |               FROM part WHERE p_partkey < 300)
        |      ON p_size, p_retailprice INTO NAME attr VALUE val)
        |ORDER BY p_partkey, attr""".stripMargin,

    "o11_upsert" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin,

    "o11b_merge_cow" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders WHERE o_orderkey < 2000
        |UNION ALL
        |SELECT CAST(9000000 + r_regionkey AS BIGINT), 100.0 + r_regionkey, 'N' FROM region
        |ORDER BY o_orderkey""".stripMargin,

    "o9b_stratified_sample" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT lang, rn, doc_id FROM r WHERE rn <= 3
        |ORDER BY lang, rn""".stripMargin,

    "o8_pivot" ->
      """SELECT user_id,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS "view",
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
        |FROM events WHERE user_id < 25
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // no WITH ORDINALITY in DuckDB 1.0 — generate_series + list indexing
    "o10_unnest_multi" ->
      """SELECT vec_id, CAST(i AS BIGINT) AS ord,
        |  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v1_q,
        |  CAST(floor(CAST(embedding[32 + i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v2_q
        |FROM embeddings, generate_series(1, 4) t(i)
        |WHERE vec_id < 5 ORDER BY vec_id, ord""".stripMargin
  )
}
