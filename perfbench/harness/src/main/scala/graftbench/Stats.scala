package graftbench

/** Order statistics for the reported timings. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median over queries of each query's median latency: the latency of
    * the median query. A workload's queries differ in latency by up to 5×,
    * so their samples form one cluster per query. A median over the pooled
    * samples then often falls between two clusters, where it is the mean of
    * the slowest sample of one query and the fastest of another: the two
    * samples of the run that noise moves most. */
  def medianQuery(samples: Seq[(String, Double)]): Double =
    median(samples.groupMap(_._1)(_._2).values.map(median).toSeq)

  /** 1-based nearest rank of percentile `p` in `n` samples. */
  def rank(p: Int, n: Int): Int = math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(p, xs.size) - 1)
  }

  /** The percentile reported as the tail of `n` samples: p90 when at least
    * `beyond` samples lie above its rank, otherwise the highest percentile
    * that still has `beyond` samples above it. None when even the median
    * has fewer. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (90 to 50 by -1).find(p => n - rank(p, n) >= beyond)
}
