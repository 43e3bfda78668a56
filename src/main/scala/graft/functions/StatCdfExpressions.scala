package graft.functions

/** Special-function kernels behind Trino's statistical CDF family
  * (`gamma_cdf`, `chi_squared_cdf`, `poisson_cdf`, `beta_cdf`,
  * `binomial_cdf`, `f_cdf`, `inverse_beta_cdf` — the closed-form CDFs
  * like cauchy/laplace/weibull need no kernel and live as SQL macros).
  * Two functions unlock the whole family: the regularized lower
  * incomplete gamma P(a, x) and the regularized incomplete beta
  * I_x(a, b). Implemented from the standard published algorithms
  * (Lanczos log-gamma; power series / modified-Lentz continued
  * fractions, as in Numerical Recipes §6.2–6.4 and Boost.Math): series
  * for the convergent region, continued fraction for the complement,
  * so both converge in tens of terms everywhere. Accuracy ~1e-14
  * relative — spec-pinned against independently published values.
  *
  * Scale note: each call is O(tens of flops) straight-line math with no
  * allocation, exposed as codegen-friendly expressions (one static call
  * inside whole-stage codegen) — safe in a 100 TB scan stage.
  */
object StatKernel {

  // Lanczos g=7, n=9 (the classic public coefficient set)
  private val lanczos = Array(
    0.99999999999980993, 676.5203681218851, -1259.1392167224028,
    771.32342877765313, -176.61502916214059, 12.507343278686905,
    -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)

  def lgamma(xIn: Double): Double =
    if (xIn < 0.5)
      // reflection: Γ(x)Γ(1−x) = π/sin(πx)
      math.log(math.Pi / math.sin(math.Pi * xIn)) - lgamma(1.0 - xIn)
    else {
      val x = xIn - 1.0
      var a = lanczos(0)
      var i = 1
      while (i < 9) { a += lanczos(i) / (x + i); i += 1 }
      val t = x + 7.5
      0.5 * math.log(2 * math.Pi) + (x + 0.5) * math.log(t) - t + math.log(a)
    }


  /** Inverse of P(a, ·): the x with P(a, x) = p. Bisection — slower
    * than Newton but unconditionally convergent and fully
    * deterministic (the oracle contract): the bracket grows
    * geometrically until it encloses p, then ~200 halvings reach the
    * 1-ulp floor. */
  def invPgamma(a: Double, p: Double): Double = {
    require(a > 0, s"inverse_gamma_cdf: shape must be > 0, got $a")
    require(p >= 0 && p < 1,
      s"inverse_gamma_cdf: p must be in [0, 1), got $p")
    if (p == 0) return 0.0
    var hi = a + 1.0
    while (pgamma(a, hi) < p) hi *= 2
    var lo = 0.0
    var i = 0
    while (i < 200) {
      val mid = 0.5 * (lo + hi)
      if (mid == lo || mid == hi) return mid
      if (pgamma(a, mid) < p) lo = mid else hi = mid
      i += 1
    }
    0.5 * (lo + hi)
  }

  /** Regularized lower incomplete gamma P(a, x), a > 0. */
  def pgamma(a: Double, x: Double): Double = {
    if (x.isNaN || a.isNaN) return Double.NaN
    if (x <= 0.0) return 0.0
    if (x.isPosInfinity) return 1.0
    if (x < a + 1.0) {
      // power series around 0: converges fast when x < a+1
      var ap = a
      var sum = 1.0 / a
      var del = sum
      var n = 0
      while (n < 500 && math.abs(del) >= math.abs(sum) * 1e-16) {
        ap += 1.0
        del *= x / ap
        sum += del
        n += 1
      }
      sum * math.exp(-x + a * math.log(x) - lgamma(a))
    } else {
      // modified-Lentz continued fraction for the complement Q(a, x)
      val tiny = 1e-300
      var b = x + 1.0 - a
      var c = 1.0 / tiny
      var d = 1.0 / b
      var h = d
      var i = 1
      var del = 0.0
      do {
        val an = -i * (i - a)
        b += 2.0
        d = an * d + b; if (math.abs(d) < tiny) d = tiny
        c = b + an / c; if (math.abs(c) < tiny) c = tiny
        d = 1.0 / d
        del = d * c
        h *= del
        i += 1
      } while (i <= 500 && math.abs(del - 1.0) >= 1e-16)
      1.0 - math.exp(-x + a * math.log(x) - lgamma(a)) * h
    }
  }

  private def betacf(a: Double, b: Double, x: Double): Double = {
    val tiny = 1e-300
    val qab = a + b
    val qap = a + 1.0
    val qam = a - 1.0
    var c = 1.0
    var d = 1.0 - qab * x / qap
    if (math.abs(d) < tiny) d = tiny
    d = 1.0 / d
    var h = d
    var m = 1
    var del = 0.0
    do {
      val m2 = 2.0 * m
      var aa = m * (b - m) * x / ((qam + m2) * (a + m2))
      d = 1.0 + aa * d; if (math.abs(d) < tiny) d = tiny
      c = 1.0 + aa / c; if (math.abs(c) < tiny) c = tiny
      d = 1.0 / d
      h *= d * c
      aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
      d = 1.0 + aa * d; if (math.abs(d) < tiny) d = tiny
      c = 1.0 + aa / c; if (math.abs(c) < tiny) c = tiny
      d = 1.0 / d
      del = d * c
      h *= del
      m += 1
    } while (m <= 500 && math.abs(del - 1.0) >= 1e-16)
    h
  }

  /** Regularized incomplete beta I_x(a, b), a, b > 0, x in [0, 1]. */
  def ibeta(a: Double, b: Double, x: Double): Double = {
    if (x.isNaN || a.isNaN || b.isNaN) return Double.NaN
    if (x <= 0.0) return 0.0
    if (x >= 1.0) return 1.0
    val bt = math.exp(lgamma(a + b) - lgamma(a) - lgamma(b) +
      a * math.log(x) + b * math.log(1.0 - x))
    // the continued fraction converges fast below the mean-ish split
    if (x < (a + 1.0) / (a + b + 2.0)) bt * betacf(a, b, x) / a
    else 1.0 - bt * betacf(b, a, 1.0 - x) / b
  }

  /** Inverse of I_x(a, b) in x for p in [0, 1] — plain bisection (the
    * CDF is monotone; 120 halvings reach full double precision and each
    * step is one cheap ibeta call). */
  def invIbeta(a: Double, b: Double, p: Double): Double = {
    if (p.isNaN || a.isNaN || b.isNaN) return Double.NaN
    if (p <= 0.0) return 0.0
    if (p >= 1.0) return 1.0
    var lo = 0.0
    var hi = 1.0
    var i = 0
    while (i < 120) {
      val mid = 0.5 * (lo + hi)
      if (ibeta(a, b, mid) < p) lo = mid else hi = mid
      i += 1
    }
    0.5 * (lo + hi)
  }

  /** Poisson CDF F(k; λ) = Q(k + 1, λ) = 1 − P(k + 1, λ) — the
    * upper-gamma identity the poisson_cdf temp function also uses. */
  @inline private def poissonCdf(lambda: Double, k: Long): Double =
    1.0 - pgamma(k.toDouble + 1.0, lambda)

  /** inverse_poisson_cdf (r16 probe sweep 6): the smallest
    * non-negative integer k with F(k; λ) ≥ p — doubling upper bound
    * then binary search (Trino's discrete-inverse convention). */
  def invPoisson(lambda: Double, p: Double): Long = {
    require(lambda > 0,
      "inverse_poisson_cdf: lambda must be greater than 0")
    require(p >= 0 && p < 1,
      "inverse_poisson_cdf: p must be in the interval [0, 1)")
    if (poissonCdf(lambda, 0L) >= p) return 0L
    var hi = math.max(1L, math.ceil(lambda).toLong)
    var guard = 0
    while (poissonCdf(lambda, hi) < p && guard < 60) { hi *= 2; guard += 1 }
    require(guard < 60, "inverse_poisson_cdf: search did not converge")
    var lo = 0L
    while (lo + 1 < hi) {
      val mid = (lo + hi) >>> 1
      if (poissonCdf(lambda, mid) < p) lo = mid else hi = mid
    }
    hi
  }

  /** Binomial CDF F(k; n, p) = I_{1−p}(n − k, k + 1) — the regularized
    * incomplete beta identity the binomial_cdf temp function uses. */
  @inline private def binomialCdf(n: Long, p: Double, k: Long): Double =
    if (k < 0) 0.0
    else if (k >= n) 1.0
    else ibeta((n - k).toDouble, k.toDouble + 1.0, 1.0 - p)

  /** inverse_binomial_cdf (r16 probe sweep 6): the smallest integer
    * k in [0, n] with F(k; n, p) ≥ prob — binary search. */
  def invBinomial(n: Long, p: Double, prob: Double): Long = {
    require(n > 0,
      "inverse_binomial_cdf: numberOfTrials must be greater than 0")
    require(p >= 0 && p <= 1, "inverse_binomial_cdf: successProbability" +
      " must be in the interval [0, 1]")
    require(prob >= 0 && prob <= 1,
      "inverse_binomial_cdf: p must be in the interval [0, 1]")
    if (binomialCdf(n, p, 0L) >= prob) return 0L
    var lo = 0L
    var hi = n
    while (lo + 1 < hi) {
      val mid = (lo + hi) >>> 1
      if (binomialCdf(n, p, mid) < prob) lo = mid else hi = mid
    }
    hi
  }
}
