package graft.presto

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Presto/Trino-named function facade (public SQL surface, per published
  * Trino docs — SURVEY §2.7 [P]): a user of the reference engine can keep
  * their function vocabulary and get the Spark-native implementation.
  * Everything delegates to codegen'd built-ins — no UDFs.
  */
object PrestoFunctions {

  // ---- string ----------------------------------------------------------
  /** Presto strpos(string, substring) — 1-based, 0 if absent. */
  def strpos(str: Column, sub: String): Column = locate(sub, str).cast("long")
  /** Presto cardinality(array|map). */
  def cardinality(c: Column): Column = size(c).cast("long")
  /** Presto array_join(array, delim). */
  def array_join(arr: Column, delim: String): Column = concat_ws(delim, arr)
  /** Presto split(string, delim) — literal delimiter, not regex. */
  def split_literal(str: Column, delim: String): Column =
    split(str, java.util.regex.Pattern.quote(delim))
  /** Presto codepoint(string). */
  def codepoint(c: Column): Column = ascii(c)
  /** Presto chr(codepoint). */
  def chr(c: Column): Column = char(c)
  /** Presto from_utf8 / to_utf8. */
  def to_utf8(c: Column): Column = c.cast("binary")
  def from_utf8(c: Column): Column = c.cast("string")

  // ---- datetime --------------------------------------------------------
  /** Presto date_diff(unit, start, end). */
  def date_diff(unit: String, start: Column, end: Column): Column =
    unit.toLowerCase match {
      case "day"    => datediff(end.cast("date"), start.cast("date")).cast("long")
      case "hour"   => ((end.cast("long") - start.cast("long")) / 3600L).cast("long")
      case "minute" => ((end.cast("long") - start.cast("long")) / 60L).cast("long")
      case "second" => (end.cast("long") - start.cast("long"))
      case "month"  => months_between(end, start).cast("long")
      case "year"   => (year(end) - year(start)).cast("long")
      case u => throw new IllegalArgumentException(s"unsupported unit $u")
    }
  /** Presto date_add(unit, value, ts). */
  def date_add(unit: String, value: Int, ts: Column): Column =
    ts + expr(s"INTERVAL $value ${unit.toUpperCase}")
  /** Presto to_unixtime. */
  def to_unixtime(ts: Column): Column = unix_timestamp(ts).cast("double")

  // ---- aggregate names -------------------------------------------------
  /** Presto approx_distinct(col). */
  def approx_distinct(c: Column): Column = approx_count_distinct(c)
  /** Presto arbitrary(col) — any value; Spark: first (non-deterministic). */
  def arbitrary(c: Column): Column = first(c, ignoreNulls = true)
  /** Presto array_agg(col). */
  def array_agg(c: Column): Column = collect_list(c)

  // ---- array / map -----------------------------------------------------
  /** Presto element_at — null on out-of-bounds (Spark ANSI throws). */
  def element_at_safe(c: Column, i: Int): Column = try_element_at(c, lit(i))
  /** Presto contains(array, elem). */
  def contains(arr: Column, elem: Column): Column = array_contains(arr, elem)
  /** Presto map_keys / map_values already share names with Spark. */

  // ---- json ------------------------------------------------------------
  /** Presto json_extract_scalar(json, path). */
  def json_extract_scalar(json: Column, path: String): Column =
    get_json_object(json, path)

  // ---- url (r2) --------------------------------------------------------
  /** Presto url_extract_host / _path / _query / _protocol. */
  def url_extract_host(u: Column): Column = parse_url(u, lit("HOST"))
  def url_extract_path(u: Column): Column = parse_url(u, lit("PATH"))
  def url_extract_query(u: Column): Column = parse_url(u, lit("QUERY"))
  def url_extract_protocol(u: Column): Column = parse_url(u, lit("PROTOCOL"))

  // ---- try / error capture (r2) ---------------------------------------
  /** Presto TRY(expr) — null instead of runtime error (engine-native
    * expression; the session must have the graft functions). */
  def try_(c: Column): Column = graft.functions.GraftFunctions.tryEval(c)

  // ---- more aggregates (r2) -------------------------------------------
  /** Presto checksum(col) — order-independent digest (a17_checksum is the
    * declared query shape). */
  def checksum(c: Column): Column =
    call_function("bit_xor",
      conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long"))
  /** Presto listagg(col, sep) — deterministic (sorted) variant. */
  def listagg(c: Column, sep: String): Column =
    concat_ws(sep, array_sort(collect_list(c)))
  /** Presto set_agg(col) — deterministic (sorted) variant. */
  def set_agg(c: Column): Column = array_sort(collect_set(c))
  /** Presto approx_most_frequent(buckets, col) → "key:count" entries. */
  def approx_most_frequent(c: Column, buckets: Int): Column =
    graft.functions.HeavyHittersAggregator.heavyHitters(c, buckets)
  /** Presto approx_set / merge / cardinality — mergeable HLL sketches. */
  def approx_set(c: Column): Column = call_function("hll_sketch_agg", c)
  def merge_hll(c: Column): Column = call_function("hll_union_agg", c)
  def cardinality_hll(c: Column): Column =
    call_function("hll_sketch_estimate", c)
  /** Presto geometric_mean(col). */
  def geometric_mean(c: Column): Column = exp(avg(log(c)))

  // ---- string extras (r2) ---------------------------------------------
  /** Presto levenshtein_distance. */
  def levenshtein_distance(a: Column, b: Column): Column =
    levenshtein(a, b).cast("long")
}
