package graft.core

/** Discretized privacy loss distribution (PLD).
  *
  * The PLD of a mechanism with output distributions P (on dataset D) and Q
  * (on neighbor D') is the distribution of the privacy loss
  * L(x) = ln(P(x)/Q(x)) under x ~ P. Composition of mechanisms = convolution
  * of their PLDs; the hockey-stick divergence
  * delta(eps) = E_P[(1 - e^(eps - L))+] + infinityMass
  * reads (eps, delta) guarantees off the composed distribution.
  *
  * Reimplemented from the published algorithm (Koskela, Jälkö, Honkela,
  * "Computing tight differential privacy guarantees using FFT", AISTATS 2020;
  * Meiser-Mohammadi "bucketing"), which is what the reference delegates to
  * Google's dp_accounting library for
  * (reference: pipeline_dp/budget_accounting.py:479-747).
  *
  * Representation: probability mass `pmf(i)` at loss `(start + i) * h`, plus
  * `infinityMass` (mass where Q assigns 0, or truncated large-loss mass).
  * Discretization is round-to-nearest: the mass in (g - h/2, g + h/2] sits at
  * grid point g. Unlike pessimistic ceil-binning (bias up to h per
  * mechanism, which would inflate a 100-fold composition by 100h), nearest
  * binning has O(h^2) per-mechanism bias, matching the accuracy class of the
  * connect-the-dots discretization used by Google's dp_accounting
  * (Doroshenko et al., "Connect the Dots", PETS 2022); epsilon error stays
  * within ~h/2 after long compositions.
  *
  * Support is capped at +-`capLoss`: mass above goes to `infinityMass`
  * (error < e^-37 on any delta at eps <= capLoss - 37), mass below collapses
  * onto the lowest grid point. This bounds array sizes through long
  * compositions.
  */
final class PLD private (
    val h: Double,
    val start: Int,
    val pmf: Array[Double],
    val infinityMass: Double,
    val capLoss: Double
) {

  /** delta(eps): pessimistic hockey-stick divergence at epsilon `eps`. */
  def deltaForEpsilon(eps: Double): Double = {
    var acc = 0.0
    // only losses l > eps contribute (1 - e^(eps - l)) * p
    var i = math.max(0, math.ceil(eps / h).toInt - start)
    while (i < pmf.length) {
      val l = (start + i) * h
      if (l > eps) acc += pmf(i) * (1 - math.exp(eps - l))
      i += 1
    }
    math.min(1.0, acc + infinityMass)
  }

  /** Smallest eps with delta(eps) <= delta (binary search; delta(eps) is
    * non-increasing in eps). */
  def epsilonForDelta(delta: Double): Double = {
    if (infinityMass > delta) return Double.PositiveInfinity
    val maxLoss = (start + pmf.length - 1) * h
    if (deltaForEpsilon(0) <= delta) {
      // epsilon may be <= 0; search down to the smallest attainable loss
      var lo = math.min(0.0, start * h - h)
      if (deltaForEpsilon(lo) <= delta) return lo
      var hi = 0.0
      while (hi - lo > 1e-9) {
        val mid = (lo + hi) / 2
        if (deltaForEpsilon(mid) <= delta) hi = mid else lo = mid
      }
      return hi
    }
    var lo = 0.0
    var hi = math.max(1.0, maxLoss)
    // maxLoss always satisfies delta(maxLoss) = infinityMass <= delta
    while (hi - lo > 1e-9) {
      val mid = (lo + hi) / 2
      if (deltaForEpsilon(mid) <= delta) hi = mid else lo = mid
    }
    hi
  }

  /** Composition of two mechanisms: convolve the loss distributions. */
  def compose(other: PLD): PLD = {
    require(h == other.h, "discretization intervals must match")
    val conv = PLD.convolve(pmf, other.pmf)
    val inf = infinityMass + other.infinityMass - infinityMass * other.infinityMass
    PLD.truncated(h, start + other.start, conv, inf, math.max(capLoss, other.capLoss))
  }

  /** n-fold self-composition via binary exponentiation. */
  def selfCompose(n: Int): PLD = {
    require(n >= 1)
    var result: PLD = null
    var base = this
    var k = n
    while (k > 0) {
      if ((k & 1) == 1) result = if (result == null) base else result.compose(base)
      k >>= 1
      if (k > 0) base = base.compose(base)
    }
    result
  }
}

object PLD {

  /** Default loss-support cap: covers any epsilon of practical interest with
    * < e^-37 pessimism error. */
  private def defaultCap(h: Double): Double = 40.0

  /** A PLD whose entire mass is infinite loss — the representation of an
    * INFEASIBLE candidate (e.g. a noise std so small that every loss
    * exceeds the support cap, or an implied per-use delta >= 1). Composing
    * with it stays infeasible; epsilonForDelta is +Infinity for any
    * delta < 1, so the budget search treats the candidate as "too noisy-
    * less" instead of crashing. */
  private[core] def alwaysInfeasible(h: Double): PLD =
    new PLD(h, 0, Array(0.0), 1.0, defaultCap(h))

  /** Builds a PLD from a (possibly over-wide) pmf, enforcing the support cap:
    * upper out-of-cap mass -> infinity, lower -> bottom grid point. */
  private def truncated(
      h: Double, start: Int, pmf: Array[Double], inf: Double, cap: Double): PLD = {
    val iLoCap = math.floor(-cap / h).toInt
    val iHiCap = math.ceil(cap / h).toInt
    val first = start
    val last = start + pmf.length - 1
    if (first >= iLoCap && last <= iHiCap) return new PLD(h, start, pmf, inf, cap)
    val newStart = math.max(first, iLoCap)
    val newLast = math.min(last, iHiCap)
    if (newStart > newLast) {
      // the support lies ENTIRELY outside the cap (possible when composing
      // two distributions whose minimum losses already sum past capLoss):
      // above-cap mass is pessimistically infinite, below-cap mass
      // collapses onto the bottom grid point — same rules as the
      // element-wise loop below, which would otherwise allocate a
      // negative-size array
      val m = pmf.sum
      return if (first > iHiCap) new PLD(h, 0, Array(0.0), math.min(1.0, inf + m), cap)
      else new PLD(h, iLoCap, Array(m), math.min(1.0, inf), cap)
    }
    val out = new Array[Double](newLast - newStart + 1)
    var extraInf = 0.0
    var i = 0
    while (i < pmf.length) {
      val idx = start + i
      if (idx < newStart) out(0) += pmf(i)
      else if (idx > newLast) extraInf += pmf(i)
      else out(idx - newStart) += pmf(i)
      i += 1
    }
    new PLD(h, newStart, out, math.min(1.0, inf + extraInf), cap)
  }

  /** Mean-preserving binning: the mass of each inter-grid interval
    * (g_i, g_i + h] is split between its two endpoint grid points so the
    * expected loss is preserved exactly (the accuracy mechanism behind
    * connect-the-dots discretization). `massOf(i)` / `meanOf(i)` are the
    * distribution's mass and partial expectation over (i h, (i + 1) h],
    * atoms included; `below` is the mass at or below the lowest grid
    * point. */
  private def binMeanPreserving(
      h: Double, iLo: Int, iHi: Int,
      massOf: Int => Double,
      meanOf: Int => Double,
      below: Double): Array[Double] = {
    val pmf = new Array[Double](iHi - iLo + 1)
    var i = iLo
    while (i < iHi) {
      val a = i * h
      val m = massOf(i)
      if (m > 0) {
        val mean = meanOf(i) / m
        val w = math.min(1.0, math.max(0.0, (mean - a) / h))
        pmf(i - iLo) += m * (1 - w)
        pmf(i + 1 - iLo) += m * w
      }
      i += 1
    }
    pmf(0) += below
    pmf
  }

  /** PESSIMISTIC binning: each inter-grid interval's mass moves whole to
    * its UPPER endpoint (losses rounded UP), so every computed delta(eps) —
    * and therefore epsilonForDelta and any noise std calibrated from it —
    * is a certified UPPER bound of the true value (the direction Google's
    * dp_accounting uses by default, `pessimistic_estimate=True`). Costs
    * O(h) bias per mechanism where mean-preserving costs O(h^2); use it
    * when a certified guarantee matters more than tightness. Arguments as
    * in [[binMeanPreserving]]. */
  private def binPessimistic(
      h: Double, iLo: Int, iHi: Int,
      massOf: Int => Double,
      below: Double): Array[Double] = {
    val pmf = new Array[Double](iHi - iLo + 1)
    var i = iLo
    while (i < iHi) {
      val m = massOf(i)
      if (m > 0) pmf(i + 1 - iLo) += m
      i += 1
    }
    // mass at or below the lowest grid point rounds UP onto it (safe:
    // moving loss up only overestimates)
    pmf(0) += below
    pmf
  }

  /** PLD of the Laplace mechanism with parameter b at unit sensitivity.
    * Loss support is [-1/b, 1/b]; continuous density c e^(l/2) with
    * c = e^(-1/(2b))/4 inside, atoms at the endpoints (mass 1/2 at +1/b,
    * e^(-1/b)/2 at -1/b). */
  def fromLaplace(b: Double, h: Double, pessimistic: Boolean = false): PLD = {
    require(b > 0 && h > 0)
    val maxLoss = 1.0 / b
    val c = math.exp(-1.0 / (2 * b)) / 4
    // antiderivatives of the continuous part: mass c*2e^{l/2},
    // partial mean 2c e^{l/2} (l - 2)
    def contMass(l: Double): Double = 2 * c * math.exp(l / 2)
    def contMean(l: Double): Double = 2 * c * math.exp(l / 2) * (l - 2)
    def clampL(l: Double) = math.min(maxLoss, math.max(-maxLoss, l))
    def massFn(a: Double, b2: Double): Double = {
      var m = contMass(clampL(b2)) - contMass(clampL(a))
      if (a < -maxLoss && -maxLoss <= b2) m += math.exp(-maxLoss) / 2
      if (a < maxLoss && maxLoss <= b2) m += 0.5
      m
    }
    def meanFn(a: Double, b2: Double): Double = {
      var m = contMean(clampL(b2)) - contMean(clampL(a))
      if (a < -maxLoss && -maxLoss <= b2) m += -maxLoss * math.exp(-maxLoss) / 2
      if (a < maxLoss && maxLoss <= b2) m += maxLoss * 0.5
      m
    }
    val cap = defaultCap(h)
    val iLo = math.max(math.floor(-maxLoss / h), math.floor(-cap / h)).toInt
    val iHi = math.min(math.ceil(maxLoss / h), math.ceil(cap / h)).toInt
    val massOf = (i: Int) => massFn(i * h, (i + 1) * h)
    val below = massFn(Double.NegativeInfinity, iLo * h)
    val pmf =
      if (pessimistic) binPessimistic(h, iLo, iHi, massOf, below)
      else binMeanPreserving(h, iLo, iHi, massOf, i => meanFn(i * h, (i + 1) * h), below)
    val inf = infinityMassOf(pmf) // mass above the cap (1/b > cap)
    new PLD(h, iLo, pmf, inf, cap)
  }

  /** PLD of the Gaussian mechanism with stddev sigma at unit sensitivity:
    * L ~ N(mu, 2 mu) with mu = 1/(2 sigma^2). Tails beyond 7.8 stddevs
    * (< 4e-15 mass) collapse onto the extreme grid points. */
  def fromGaussian(sigma: Double, h: Double, pessimistic: Boolean = false): PLD = {
    require(sigma > 0 && h > 0)
    val mu = 1.0 / (2 * sigma * sigma)
    val std = math.sqrt(2 * mu)
    def pdf(z: Double): Double = math.exp(-0.5 * z * z) / math.sqrt(2 * math.Pi)
    val cap = defaultCap(h)
    val k = 7.8
    val iLo = math.max(math.floor((mu - k * std) / h), math.floor(-cap / h)).toInt
    val iHi = math.min(math.ceil((mu + k * std) / h), math.ceil(cap / h)).toInt
    if (iLo > iHi)
      // sigma so small that even the loss distribution's LOWER 7.8-std
      // tail lies above the support cap: effectively all mass is
      // infinite loss. The budget search probes such candidates while
      // bracketing; they are infeasible, not an error (a negative-size
      // pmf allocation crashed here before)
      return alwaysInfeasible(h)
    // CDF and partial mean over (-inf, l] (mu Phi(z) - std phi(z)) at every
    // grid boundary l = i h, evaluated ONCE: boundary i closes interval
    // i - 1 and opens interval i, and Phi (erfc) dominates the cost
    val n = iHi - iLo + 1
    val cdf = new Array[Double](n)
    val pmean = if (pessimistic) null else new Array[Double](n)
    var j = 0
    while (j < n) {
      val z = ((iLo + j) * h - mu) / std
      cdf(j) = DpNoise.phi(z)
      if (pmean != null) pmean(j) = mu * cdf(j) - std * pdf(z)
      j += 1
    }
    val massOf = (i: Int) => cdf(i + 1 - iLo) - cdf(i - iLo)
    val pmf =
      if (pessimistic) binPessimistic(h, iLo, iHi, massOf, cdf(0))
      else binMeanPreserving(h, iLo, iHi, massOf,
        i => pmean(i + 1 - iLo) - pmean(i - iLo), cdf(0))
    val inf = infinityMassOf(pmf)
    new PLD(h, iLo, pmf, inf, cap)
  }

  /** PLD of a generic (eps0, delta0)-DP mechanism: the canonical randomized-
    * response-shaped distribution — with prob delta0 the loss is infinite,
    * else +eps0 with prob e^eps0/(1+e^eps0) and -eps0 with prob 1/(1+e^eps0)
    * (reference: budget_accounting.py:733-747 from_privacy_parameters). */
  def fromPrivacyParameters(eps0: Double, delta0: Double, h: Double,
      pessimistic: Boolean = false): PLD = {
    require(eps0 > 0 && delta0 >= 0 && delta0 < 1 && h > 0)
    val cap = defaultCap(h)
    // clamp the support BEFORE allocating: a huge eps0 (tiny noise candidate
    // during the budget search) must not allocate eps0/h entries
    val bounded = math.min(eps0, cap)
    val iHi = math.ceil(bounded / h).toInt
    val iLo = math.floor(-bounded / h).toInt
    val pmf = new Array[Double](iHi - iLo + 1)
    def atomSplit(l: Double, m: Double): Unit =
      if (pessimistic) {
        // round the atom's loss UP to the grid (certified direction)
        pmf(math.min(iHi, math.ceil(l / h).toInt) - iLo) += m
      } else {
        // mean-preserving split of an off-grid atom onto its two neighbors
        val iF = math.floor(l / h).toInt
        val w = l / h - iF
        pmf(iF - iLo) += m * (1 - w)
        if (w > 0) pmf(iF + 1 - iLo) += m * w
      }
    val p = 1.0 / (1 + math.exp(eps0))
    var inf = delta0
    atomSplit(-bounded, (1 - delta0) * p)
    if (eps0 <= cap) atomSplit(eps0, (1 - delta0) * (1 - p))
    else inf += (1 - delta0) * (1 - p) // above-cap loss is pessimistically infinite
    new PLD(h, iLo, pmf, math.min(1.0, inf), cap)
  }

  /** Residual mass above the support cap; float dust (< 1e-14, the
    * round-off of summing ~1e6 doubles) is clamped to an exact zero so that
    * bounded-support mechanisms keep delta(maxLoss) = 0. */
  private def infinityMassOf(pmf: Array[Double]): Double = {
    val m = 1.0 - pmf.sum
    if (m < 1e-14) 0.0 else m
  }

  // ---- convolution ----

  private val DirectThreshold = 1L << 24 // n*m above this switches to FFT

  private[core] def convolve(a: Array[Double], b: Array[Double]): Array[Double] = {
    if (a.length.toLong * b.length <= DirectThreshold) convolveDirect(a, b)
    else convolveFft(a, b)
  }

  /** Direct convolution, visiting only the runs of non-zero entries of
    * `b` (a partition-selection PMF has at most 4 non-zero entries in an
    * array of length 2 eps0 / h; a dense `b` is one run). Runs are taken
    * last to first, so every out(k) still adds its products a(i) b(k - i)
    * in increasing i, the order of the plain double loop; the skipped
    * products are +-0.0, and adding one to a sum that starts at +0.0
    * changes no bit. */
  private def convolveDirect(a: Array[Double], b: Array[Double]): Array[Double] = {
    val out = new Array[Double](a.length + b.length - 1)
    var hi = b.length
    while (hi > 0) {
      while (hi > 0 && b(hi - 1) == 0.0) hi -= 1
      var lo = hi
      while (lo > 0 && b(lo - 1) != 0.0) lo -= 1
      if (lo < hi) addRun(a, b, lo, hi, out)
      hi = lo
    }
    out
  }

  /** out(i + j) += a(i) b(j) for every i and every j in [lo, hi). */
  private def addRun(a: Array[Double], b: Array[Double], lo: Int, hi: Int,
      out: Array[Double]): Unit = {
    var i = 0
    while (i < a.length) {
      val ai = a(i)
      if (ai != 0.0) {
        var j = lo
        while (j < hi) {
          out(i + j) += ai * b(j)
          j += 1
        }
      }
      i += 1
    }
  }

  /** Iterative radix-2 Cooley-Tukey FFT over split re/im arrays (standard
    * public-domain algorithm); clamps the tiny negative round-off masses.
    * A self-convolution (`a eq b`, every selfCompose square) transforms
    * its operand once and multiplies the spectrum by itself. */
  private def convolveFft(a: Array[Double], b: Array[Double]): Array[Double] = {
    val n = a.length + b.length - 1
    var size = 1
    while (size < n) size <<= 1
    val are = java.util.Arrays.copyOf(a, size); val aim = new Array[Double](size)
    fft(are, aim, invert = false)
    val (bre, bim) =
      if (a eq b) (are, aim)
      else {
        val re = java.util.Arrays.copyOf(b, size); val im = new Array[Double](size)
        fft(re, im, invert = false)
        (re, im)
      }
    var i = 0
    while (i < size) {
      // both products read index i before it is overwritten, so the
      // aliased spectra give the same bits as two separate transforms
      val re = are(i) * bre(i) - aim(i) * bim(i)
      val im = are(i) * bim(i) + aim(i) * bre(i)
      are(i) = re; aim(i) = im
      i += 1
    }
    fft(are, aim, invert = true)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = math.max(0.0, are(i)); i += 1 }
    out
  }

  private def fft(re: Array[Double], im: Array[Double], invert: Boolean): Unit = {
    val n = re.length
    // bit-reversal permutation
    var i = 1; var j = 0
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = 2 * math.Pi / len * (if (invert) -1 else 1)
      val wr = math.cos(ang); val wi = math.sin(ang)
      var blockStart = 0
      while (blockStart < n) {
        var curWr = 1.0; var curWi = 0.0
        var k = 0
        while (k < len / 2) {
          val i1 = blockStart + k
          val i2 = i1 + len / 2
          val ur = re(i1); val ui = im(i1)
          val vr = re(i2) * curWr - im(i2) * curWi
          val vi = re(i2) * curWi + im(i2) * curWr
          re(i1) = ur + vr; im(i1) = ui + vi
          re(i2) = ur - vr; im(i2) = ui - vi
          val nwr = curWr * wr - curWi * wi
          curWi = curWr * wi + curWi * wr
          curWr = nwr
          k += 1
        }
        blockStart += len
      }
      len <<= 1
    }
    if (invert) {
      var k = 0
      while (k < n) { re(k) /= n; im(k) /= n; k += 1 }
    }
  }
}
