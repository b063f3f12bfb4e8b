package graft.core

import org.scalatest.funsuite.AnyFunSuite

class PLDSpec extends AnyFunSuite {

  test("laplace PLD: pure-dp epsilon is the loss bound 1/b") {
    val pld = PLD.fromLaplace(1.0, 1e-4)
    // delta(eps) hits 0 exactly at the max loss = 1/b (pessimistically
    // rounded up to the grid)
    assert(math.abs(pld.epsilonForDelta(0) - 1.0) < 1e-3)
    assert(pld.deltaForEpsilon(1.01) == 0.0)
    assert(pld.pmf.sum > 0.999999)
  }

  test("laplace PLD: delta at eps=0 is the total variation distance") {
    // the hockey-stick divergence at eps=0 is TV(Lap(0,b), Lap(1,b))
    // = 1 - e^{-1/(2b)} (standard closed form)
    for (b <- Seq(0.5, 1.0, 2.0)) {
      val pld = PLD.fromLaplace(b, 1e-5)
      val want = 1 - math.exp(-1.0 / (2 * b))
      assert(math.abs(pld.deltaForEpsilon(0) - want) < 1e-4, s"b=$b")
    }
  }

  test("gaussian PLD epsilon matches the analytic (Balle-Wang) calibration") {
    for ((sigma, delta) <- Seq((3.0, 1e-6), (7.0, 1e-8), (1.5, 1e-4))) {
      val pld = PLD.fromGaussian(sigma, 1e-4)
      val got = pld.epsilonForDelta(delta)
      val want = DpNoise.gaussianEpsilon(sigma, delta)
      // pessimistic discretization overestimates eps slightly
      assert(got >= want - 1e-6, s"sigma=$sigma got=$got want=$want")
      assert(got <= want * 1.01 + 2e-4, s"sigma=$sigma got=$got want=$want")
    }
  }

  test("generic PLD reproduces (eps0, delta0)") {
    val pld = PLD.fromPrivacyParameters(0.7, 1e-6, 1e-4)
    assert(math.abs(pld.epsilonForDelta(1e-6) - 0.7) < 1e-3)
    assert(pld.infinityMass == 1e-6)
  }

  test("composition adds losses: two laplaces") {
    val one = PLD.fromLaplace(2.0, 1e-4)
    val two = one.compose(one)
    assert(math.abs(two.epsilonForDelta(0) - 1.0) < 1e-3)
    // self-compose agrees with explicit compose
    val sc = one.selfCompose(2)
    assert(math.abs(sc.epsilonForDelta(1e-9) - two.epsilonForDelta(1e-9)) < 1e-9)
    val three = one.selfCompose(3)
    val threeExplicit = two.compose(one)
    assert(math.abs(three.deltaForEpsilon(0.5) - threeExplicit.deltaForEpsilon(0.5)) < 1e-12)
  }

  test("fft and direct convolution agree") {
    val rnd = new scala.util.Random(3)
    val a = Array.fill(1500)(rnd.nextDouble() / 1500)
    val b = Array.fill(40000)(rnd.nextDouble() / 40000)
    // force both paths via package-private convolve on small arrays vs known
    val direct = {
      val out = new Array[Double](a.length + b.length - 1)
      for (i <- a.indices; j <- b.indices) out(i + j) += a(i) * b(j)
      out
    }
    val viaPublic = PLD.convolve(a, b) // n*m < threshold -> direct
    viaPublic.zip(direct).foreach { case (x, y) => assert(math.abs(x - y) < 1e-12) }
    val big = Array.fill(8000)(rnd.nextDouble() / 8000)
    val huge = Array.fill(3000)(rnd.nextDouble() / 3000)
    // n*m = 2.4e7 above... use arrays crossing the threshold indirectly:
    // compare FFT result of (big, big) against direct convolution
    val viaFft = PLD.convolve(Array.fill(6000)(1.0 / 6000), Array.fill(5000)(1.0 / 5000))
    assert(math.abs(viaFft.sum - 1.0) < 1e-9)
    assert(big.length + huge.length > 0) // silence unused warnings
  }

  // ---- bit-identity of the de-duplicated kernels ----
  // The reference implementations below are the per-interval / dense
  // formulations the kernels replaced; every comparison is on raw bits.

  /** (start, pmf, infinityMass) of a Gaussian PLD binned interval by
    * interval, four Phi evaluations per interval. */
  private def gaussianPerInterval(sigma: Double, h: Double,
      pessimistic: Boolean): (Int, Array[Double], Double) = {
    val mu = 1.0 / (2 * sigma * sigma)
    val std = math.sqrt(2 * mu)
    def pdf(z: Double): Double = math.exp(-0.5 * z * z) / math.sqrt(2 * math.Pi)
    def cdf(l: Double): Double =
      if (l == Double.NegativeInfinity) 0.0 else DpNoise.phi((l - mu) / std)
    def pmean(l: Double): Double =
      if (l == Double.NegativeInfinity) 0.0
      else { val z = (l - mu) / std; mu * DpNoise.phi(z) - std * pdf(z) }
    def massFn(a: Double, b: Double): Double = cdf(b) - cdf(a)
    def meanFn(a: Double, b: Double): Double = pmean(b) - pmean(a)
    val iLo = math.max(math.floor((mu - 7.8 * std) / h), math.floor(-40.0 / h)).toInt
    val iHi = math.min(math.ceil((mu + 7.8 * std) / h), math.ceil(40.0 / h)).toInt
    if (iLo > iHi) return (0, Array(0.0), 1.0)
    val pmf = new Array[Double](iHi - iLo + 1)
    for (i <- iLo until iHi) {
      val a = i * h
      val b = (i + 1) * h
      val m = massFn(a, b)
      if (m > 0) {
        if (pessimistic) pmf(i + 1 - iLo) += m
        else {
          val w = math.min(1.0, math.max(0.0, (meanFn(a, b) / m - a) / h))
          pmf(i - iLo) += m * (1 - w)
          pmf(i + 1 - iLo) += m * w
        }
      }
    }
    pmf(0) += massFn(Double.NegativeInfinity, iLo * h)
    val inf = 1.0 - pmf.sum
    (iLo, pmf, if (inf < 1e-14) 0.0 else inf)
  }

  private def sameBits(x: Double, y: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)

  test("gaussian PLD: one Phi per grid point gives the per-interval bits") {
    for (sigma <- Seq(0.02, 0.5, 1.0, 3.4, 50.0); h <- Seq(1e-2, 1e-3, 1e-4);
        pessimistic <- Seq(false, true)) {
      val got = PLD.fromGaussian(sigma, h, pessimistic)
      val (start, pmf, inf) = gaussianPerInterval(sigma, h, pessimistic)
      val at = s"sigma=$sigma h=$h pessimistic=$pessimistic"
      assert(got.start == start, at)
      assert(java.util.Arrays.equals(got.pmf, pmf), at)
      assert(sameBits(got.infinityMass, inf), at)
    }
  }

  test("direct convolution skipping zero entries gives the dense-loop bits") {
    def dense(a: Array[Double], b: Array[Double]): Array[Double] = {
      val out = new Array[Double](a.length + b.length - 1)
      for (i <- a.indices if a(i) != 0.0; j <- b.indices) out(i + j) += a(i) * b(j)
      out
    }
    // the engine's shape: composed metric PLD (outer) with a partition
    // selection PLD (inner, <= 4 non-zero entries)
    val metrics = PLD.fromGaussian(3.4, 1e-3).compose(PLD.fromGaussian(3.4, 1e-3))
    for (eps0 <- Seq(0.2, 0.41368, 0.8)) {
      val selection = PLD.fromPrivacyParameters(eps0, 2e-6, 1e-3)
      assert(metrics.pmf.length.toLong * selection.pmf.length <= (1L << 24))
      assert(java.util.Arrays.equals(
        PLD.convolve(metrics.pmf, selection.pmf), dense(metrics.pmf, selection.pmf)),
        s"eps0=$eps0")
    }
    // random operands: zero runs on both sides, dense, zero-padded dense
    val rnd = new scala.util.Random(7)
    def sparse(n: Int, pZero: Double) =
      Array.fill(n)(if (rnd.nextDouble() < pZero) 0.0 else rnd.nextDouble() / n)
    val padded = new Array[Double](300) ++ sparse(500, 0.0) ++ new Array[Double](200)
    for ((a, b) <- Seq((sparse(3000, 0.2), sparse(900, 0.99)),
        (sparse(1200, 0.2), sparse(1500, 0.3)), (sparse(50, 0.0), sparse(40, 0.0)),
        (sparse(2000, 0.0), padded))) {
      assert(java.util.Arrays.equals(PLD.convolve(a, b), dense(a, b)),
        s"${a.length} x ${b.length}")
    }
  }

  test("FFT self-convolution transforms once and gives the two-transform bits") {
    // convolve(a, a.clone) transforms each operand; convolve(a, a) reuses
    // the one spectrum
    val gauss = PLD.fromGaussian(3.4, 1e-3).pmf
    val rnd = new scala.util.Random(11)
    val random = Array.fill(6000)(rnd.nextDouble() / 6000)
    for (a <- Seq(gauss, random)) {
      assert(a.length.toLong * a.length > (1L << 24), "must take the FFT path")
      assert(java.util.Arrays.equals(PLD.convolve(a, a), PLD.convolve(a, a.clone())))
    }
  }
}

class PLDBudgetAccountantSpec extends AnyFunSuite {
  import MechanismType._

  test("resolved base noise stds are pinned bit for bit") {
    // Exact doubles, no tolerance: the PLD search de-duplicates work
    // (one Phi per grid point, one PLD per distinct mechanism, shared
    // self-convolution spectra, memoized probes) and must not move a bit.
    def hex(s: String): Double = java.lang.Double.parseDouble(s)
    def resolve(eps: Double, delta: Double, h: Double, pessimistic: Boolean,
        ms: Seq[(MechanismType, Int, String)]) = {
      val acc = new PLDBudgetAccountant(eps, delta, pldDiscretization = h,
        pessimistic = pessimistic)
      val hs = ms.map { case (t, c, n) => acc.requestBudget(t, count = c, name = n) }
      acc.computeBudgets()
      (acc, hs.map(_.spec))
    }
    // the benchmark's release shapes (DPEngine request order) at eps 2,
    // delta 1e-5: {count, sum, mean} Gaussian and {p50, p90} Laplace
    val gaussian = Seq((Gaussian, 1, "MeanCount"), (Gaussian, 1, "MeanSum"),
      (PartitionSelection, 1, "PartitionSelection"))
    val laplace = Seq((Laplace, 1, "Quantile"), (PartitionSelection, 1, "PartitionSelection"))
    val cases = Seq(
      ("gaussian h=1e-3", resolve(2.0, 1e-5, 1e-3, false, gaussian), "0x1.b594p1"),
      ("laplace h=1e-3", resolve(2.0, 1e-5, 1e-3, false, laplace), "0x1.6a0cp0"),
      ("gaussian h=1e-3 pessimistic", resolve(2.0, 1e-5, 1e-3, true, gaussian), "0x1.b5e6p1"),
      ("gaussian h=1e-4", resolve(2.0, 1e-5, 1e-4, false, gaussian), "0x1.b594p1"),
      ("count=10", resolve(1.0, 1e-6, 1e-3, false,
        Seq((Gaussian, 10, "G"), (Laplace, 1, "L"))), "0x1.c7ad8p3"))
    for ((name, (acc, specs), want) <- cases) {
      val base = acc.baseNoiseStd.get
      assert(base == hex(want),
        s"$name: base ${java.lang.Double.toHexString(base)} != $want")
      specs.filter(_.noiseStdDev.isDefined).foreach(s =>
        assert(s.noiseStdDev.get == base, s"$name: ${s.name}"))
    }
    // the partition-selection specs and the composed PLD at the resolved
    // base, for the Gaussian shape
    val (acc, specs) = cases.head._2
    val selection = specs.last
    assert(selection.epsilon == hex("0x1.a79cf03b2dd8dp-2"), selection.toString)
    assert(selection.delta == hex("0x1.159e798e9385p-19"), selection.toString)
    assert(cases(1)._2._2.last.epsilon == hex("0x1.fffd07be9d606p-1"))
    assert(cases(1)._2._2.last.delta == hex("0x1.4f8966508548fp-18"))
    val composed = acc.composeDistributions(acc.baseNoiseStd.get)
    assert(composed.start == -4892 && composed.pmf.length == 9957)
    assert(java.util.Arrays.hashCode(composed.pmf) == 1741039726)
    assert(composed.infinityMass == hex("0x1.159e798e9385p-19"))
  }

  test("pure-Laplace (delta = 0) path composes count-fold") {
    // a mechanism applied count times must split epsilon count ways on
    // the naive-split branch exactly as the PLD branch selfComposes it:
    // per-use eps = 1/10 -> b = 1/eps = 10 -> std = sqrt(2) * 10
    val acc = new PLDBudgetAccountant(1.0, 0.0)
    val h = acc.requestBudget(Laplace, weight = 1.0, count = 10)
    acc.computeBudgets()
    val std = h.spec.noiseStdDev.get
    assert(math.abs(std - math.sqrt(2.0) * 10.0) < 1e-9, s"std=$std")
    // count = 1 control: full epsilon, std = sqrt(2)
    val acc1 = new PLDBudgetAccountant(1.0, 0.0)
    val h1 = acc1.requestBudget(Laplace)
    acc1.computeBudgets()
    assert(math.abs(h1.spec.noiseStdDev.get - math.sqrt(2.0)) < 1e-9)
  }

  test("gaussian thresholding + gaussian: sigma matches reference value") {
    // (reference: tests/budget_accounting_test.py:561-579 — expected
    // 7.284667; cross-checked against the tight analytic Gaussian bound)
    val acc = new PLDBudgetAccountant(1.0, 1e-8)
    val thr = acc.requestBudget(GaussianThresholding)
    val gau = acc.requestBudget(Gaussian)
    acc.computeBudgets()
    val sigma = thr.spec.noiseStdDev.get
    assert(gau.spec.noiseStdDev.get == sigma)
    assert(math.abs(sigma - 7.284667) < 0.08, s"sigma=$sigma")
    // analytic cross-check: 2 equal gaussians at (1, 7.5e-9) compose like a
    // single gaussian at l2 sensitivity sqrt(2)
    val tight = DpNoise.gaussianSigma(1.0, 7.5e-9, math.sqrt(2.0))
    assert(sigma >= tight - 1e-4 && sigma <= tight * 1.02, s"sigma=$sigma tight=$tight")
    assert(thr.spec.thresholdingDelta.contains(1e-8 / 4))
    assert(gau.spec.thresholdingDelta.isEmpty)
  }

  test("laplace thresholding + weighted laplace: stds match reference values") {
    // (reference: budget_accounting_test.py:581-600 — expected 2.121551513
    // for the weight-2 mechanism, double that for the thresholding one)
    val acc = new PLDBudgetAccountant(1.0, 1e-8)
    val thr = acc.requestBudget(LaplaceThresholding)
    val lap = acc.requestBudget(Laplace, weight = 2)
    acc.computeBudgets()
    assert(math.abs(lap.spec.noiseStdDev.get - 2.121551513) < 0.05,
      s"std=${lap.spec.noiseStdDev.get}")
    assert(math.abs(thr.spec.noiseStdDev.get - 2 * 2.121551513) < 0.1)
    assert(thr.spec.thresholdingDelta.contains(1e-8 / 4))
  }

  test("laplace with count=100: advanced composition beats naive") {
    // (reference: budget_accounting_test.py:602-612 — expected 94.656 vs
    // naive 141.4)
    val acc = new PLDBudgetAccountant(1.0, 1e-12, pldDiscretization = 1e-2)
    val budget = acc.requestBudget(Laplace, weight = 1.0, count = 100)
    acc.computeBudgets()
    val std = budget.spec.noiseStdDev.get
    assert(math.abs(std - 94.656) < 1.5, s"std=$std")
    assert(std < 141.0) // strictly better than naive
  }

  test("multi-mechanism weighted cases match reference base noise stds") {
    // (reference: budget_accounting_test.py:430-500, discretization 1e-2)
    def run(eps: Double, delta: Double,
        ms: Seq[(Int, MechanismType, Double, Double)]): PLDBudgetAccountant = {
      val acc = new PLDBudgetAccountant(eps, delta, pldDiscretization = 1e-2)
      ms.foreach { case (count, t, w, s) =>
        acc.requestBudget(t, weight = w, count = count, sensitivity = s)
      }
      acc.computeBudgets()
      acc
    }
    val a1 = run(0.246, 1e-5, Seq((6, Laplace, 1, 2), (2, Gaussian, 1, 4)))
    assert(math.abs(a1.baseNoiseStd.get - 20.024) < 0.4, s"base=${a1.baseNoiseStd.get}")
    // epsilon round-trip at the reference's expected base noise std
    val eps1 = a1.composeDistributions(20.024).epsilonForDelta(1e-5)
    assert(math.abs(eps1 - 0.246) < 0.01, s"eps=$eps1")

    val a2 = run(0.719, 1e-5, Seq((4, Laplace, 4, 2), (6, Gaussian, 2, 4)))
    assert(math.abs(a2.baseNoiseStd.get - 20.0) < 0.4, s"base=${a2.baseNoiseStd.get}")

    val a3 = run(0.822, 1e-6, Seq((4, Laplace, 4, 2), (6, Gaussian, 2, 4),
      (1, Gaussian, 3, 6), (5, Laplace, 8, 3)))
    assert(math.abs(a3.baseNoiseStd.get - 40.02) < 0.8, s"base=${a3.baseNoiseStd.get}")
  }

  test("per-mechanism stds of the mixed-weight golden cases match the reference") {
    // The reference pins not just each pipeline base but every
    // mechanism's resolved noise std (tests/budget_accounting_test.py:
    // 430-500 expected_noise_std per entry). In the delta>0 PLD path the
    // resolved spec.noiseStdDev is sensitivity * base / weight — the
    // reference's FINAL value directly (the NORMALIZED convention note
    // further down concerns the delta=0 naive-split path only).
    def run(eps: Double, delta: Double,
        ms: Seq[(Int, MechanismType, Double, Double)]) = {
      val acc = new PLDBudgetAccountant(eps, delta, pldDiscretization = 1e-2)
      val hs = ms.map { case (count, t, w, s) =>
        acc.requestBudget(t, weight = w, count = count, sensitivity = s)
      }
      acc.computeBudgets()
      hs.map(_.spec.noiseStdDev.get)
    }
    // "mix_of_mechanisms" (base 20.024): Laplace w=1 s=2 -> 40.048,
    // Gaussian w=1 s=4 -> 80.096
    val m1 = run(0.246, 1e-5, Seq((6, Laplace, 1, 2), (2, Gaussian, 1, 4)))
    assert(math.abs(m1.head - 40.048) < 0.8, m1.toString)
    assert(math.abs(m1.last - 80.096) < 1.6, m1.toString)
    // "multiple_weights_and_sensitivities" (base 20): Laplace w=4 s=2 ->
    // 10, Gaussian w=2 s=4 -> 40
    val m2 = run(0.719, 1e-5, Seq((4, Laplace, 4, 2), (6, Gaussian, 2, 4)))
    assert(math.abs(m2.head - 10.0) < 0.2, m2.toString)
    assert(math.abs(m2.last - 40.0) < 0.8, m2.toString)
    // "multiple_weights_and_sensitivities_variants" (base 40.02):
    // 20.01 / 80.04 / 80.04 / 15
    val m3 = run(0.822, 1e-6, Seq((4, Laplace, 4, 2), (6, Gaussian, 2, 4),
      (1, Gaussian, 3, 6), (5, Laplace, 8, 3)))
    val want3 = Seq(20.01, 80.04, 80.04, 15.0)
    m3.zip(want3).foreach { case (got, want) =>
      assert(math.abs(got - want) < want * 0.02, s"got=$m3 want=$want3")
    }
    // the weight/sensitivity algebra ties every mechanism to the base:
    // resolved std = sensitivity * base / weight exactly
    val accA = new PLDBudgetAccountant(0.822, 1e-6, pldDiscretization = 1e-2)
    val handles = Seq((4, Laplace, 4.0, 2.0), (6, Gaussian, 2.0, 4.0),
      (1, Gaussian, 3.0, 6.0), (5, Laplace, 8.0, 3.0)).map {
      case (c, t, w, s) =>
        (accA.requestBudget(t, weight = w, count = c, sensitivity = s), w, s)
    }
    accA.computeBudgets()
    val baseA = accA.baseNoiseStd.get
    handles.foreach { case (h, w, s) =>
      assert(math.abs(h.spec.noiseStdDev.get - s * baseA / w) < 1e-9)
    }
  }

  test("generic_multiple optimistic: one-sided vs reference, feasibility round-trip") {
    // "generic_multiple" (tests/budget_accounting_test.py:301-316):
    // eps=0.6599974547358093, delta=1e-5, THREE generic mechanisms ->
    // reference base 6.71649169921875 under pldlib's pessimistic
    // rounding. Same contract as the single-generic golden: our
    // mean-preserving split needs no MORE noise, lands within 5%, and
    // the reference's base remains feasible under our composition.
    val eps = 0.6599974547358093
    val acc = new PLDBudgetAccountant(eps, 1e-5, pldDiscretization = 1e-2)
    val hs = (1 to 3).map(_ =>
      acc.requestBudget(MechanismType.PartitionSelection))
    acc.computeBudgets()
    val base = acc.baseNoiseStd.get
    assert(base <= 6.71649169921875 + 1e-9 && base > 6.71649169921875 * 0.95,
      s"base=$base")
    assert(acc.composeDistributions(6.71649169921875).epsilonForDelta(1e-5)
      <= eps + 1e-6)
    // proportional-delta resolution (budget_accounting.py:616-622) on
    // every one of the three handles
    hs.foreach { h =>
      assert(math.abs(h.spec.delta - h.spec.epsilon / eps * 1e-5) < 1e-12)
    }
  }

  test("PLD accountant reproduces the reference's golden base noise stds") {
    // Ported from the reference's own golden values
    // (tests/budget_accounting_test.py:266-500, PLDBudgetAccountant with
    // discretization 1e-2). Laplace/Gaussian PLD constructions coincide
    // with the reference's, so those bases match to ~0.05%; the GENERIC
    // (PartitionSelection) construction uses a mean-preserving atom split
    // where the reference's pldlib rounds pessimistically, so generic-mix
    // bases land 2-4% BELOW the reference value — asserted one-sided plus
    // a feasibility round-trip (the reference's sigma must satisfy the
    // budget under our composition too).
    def acc(eps: Double, delta: Double,
        ms: (Int, MechanismType, Double, Double)*)
        : (PLDBudgetAccountant, Seq[BudgetHandle]) = {
      val a = new PLDBudgetAccountant(eps, delta, pldDiscretization = 1e-2)
      val hs = ms.map { case (c, t, w, s) =>
        a.requestBudget(t, weight = w, count = c, sensitivity = s)
      }
      a.computeBudgets()
      (a, hs)
    }
    // "standard_laplace": eps=4, delta=0, 2x Laplace -> 0.7071067811865476
    val (sl, _) = acc(4, 0, (2, Laplace, 1, 1))
    assert(math.abs(sl.baseNoiseStd.get - 0.7071067811865476) < 1e-12)
    // "standard_laplace_weights": weight=2 -> base 1.4142135623730951,
    // per-mechanism std 0.7071067811865476
    val (sw, _) = acc(4, 0, (2, Laplace, 2, 1))
    assert(math.abs(sw.baseNoiseStd.get - 1.4142135623730951) < 1e-12)
    // "laplace_mechanisms": eps=0.168, delta=1e-3, 10x Laplace -> 49.872
    val (lm, _) = acc(0.168, 1e-3, (10, Laplace, 1, 1))
    assert(math.abs(lm.baseNoiseStd.get - 49.872) < 0.05,
      s"base=${lm.baseNoiseStd.get}")
    // "gaussian_mechanisms": eps=0.115, delta=1e-3, 10x Gaussian -> 50.25
    val (gm, _) = acc(0.115, 1e-3, (10, Gaussian, 1, 1))
    assert(math.abs(gm.baseNoiseStd.get - 50.25) < 0.05,
      s"base=${gm.baseNoiseStd.get}")
    // "multiple_weights": eps=1.873, delta=1e-5, 4x Laplace(w=2) +
    // 4x Gaussian(w=4) -> base 20, mechanism stds 10 and 5
    val (mw, mwHs) = acc(1.873, 1e-5, (4, Laplace, 2, 1), (4, Gaussian, 4, 1))
    assert(math.abs(mw.baseNoiseStd.get - 20.0) < 0.01,
      s"base=${mw.baseNoiseStd.get}")
    val mwStds = mwHs.map(_.spec.noiseStdDev.get)
    assert(math.abs(mwStds.head - 10.0) < 0.005 &&
      math.abs(mwStds.last - 5.0) < 0.0025, mwStds.toString)
    // "generic": eps=0.22999925..., delta=1e-5, 1 generic -> 6.41455078125.
    // One-sided: our mean-preserving split needs no more noise than the
    // reference's pessimistic rounding...
    val (gn, _) = acc(0.22999925338484556, 1e-5,
      (1, MechanismType.PartitionSelection, 1, 1))
    assert(gn.baseNoiseStd.get <= 6.41455078125 + 1e-9 &&
      gn.baseNoiseStd.get > 6.41455078125 * 0.95,
      s"base=${gn.baseNoiseStd.get}")
    // ...and the reference's sigma is feasible under our composition
    assert(gn.composeDistributions(6.41455078125).epsilonForDelta(1e-5)
      <= 0.22999925338484556 + 1e-6)
    // "multiple_noise_kinds": eps=0.240, delta=1e-3, 5 Laplace + 5 Gaussian
    // + 5 generic -> 49.73 (same one-sided + feasibility contract)
    val (mk, mkHs) = acc(0.240, 1e-3, (5, Laplace, 1, 1), (5, Gaussian, 1, 1),
      (5, MechanismType.PartitionSelection, 1, 1))
    assert(mk.baseNoiseStd.get <= 49.73 + 1e-9 &&
      mk.baseNoiseStd.get > 49.73 * 0.93, s"base=${mk.baseNoiseStd.get}")
    assert(mk.composeDistributions(49.73).epsilonForDelta(1e-3) <= 0.240 + 1e-5)
    // generic resolution keeps the proportional-delta contract
    // (budget_accounting.py:616-622): delta0 = eps0/totalEps*totalDelta
    val gspec = mkHs.last.spec
    assert(math.abs(gspec.delta - gspec.epsilon / 0.240 * 1e-3) < 1e-12)
    // "standard_laplace_sensitivities": eps=3, delta=0, 2x Laplace(s=3).
    // CONVENTION NOTE: the reference's resolved noise_std is FINAL
    // (2.8284271247), ours is NORMALIZED per unit sensitivity and the
    // executor scales by the actual L1 (createAdditive) — so parity is
    // asserted on the EXECUTED mechanism, which must match the
    // reference's: std 2.8284..., and the two uses must consume exactly
    // the total epsilon.
    val (_, ssHs) = acc(3, 0, (2, Laplace, 1, 3))
    val mech = Mechanisms.createAdditive(ssHs.head.spec,
      Sensitivities(l1Given = Some(3.0)))
    assert(math.abs(mech.stdDev - 2.82842712474619) < 1e-9,
      s"executed std=${mech.stdDev}")
    // per-use eps of Laplace: L1 / b, b = std/sqrt(2); times 2 uses
    val epsPerUse = 3.0 / (mech.stdDev / math.sqrt(2.0))
    assert(math.abs(2 * epsPerUse - 3.0) < 1e-9, s"spent=${2 * epsPerUse}")
  }

  test("pessimistic mode: certified direction, reference-exact generic values") {
    // pessimistic binning rounds every loss UP: epsilon estimates (and the
    // resolved noise) must DOMINATE both the analytic value and the
    // mean-preserving estimate — the certified direction
    for ((sigma, delta) <- Seq((3.0, 1e-6), (1.5, 1e-4))) {
      val eps = PLD.fromGaussian(sigma, 1e-3, pessimistic = true)
        .epsilonForDelta(delta)
      assert(eps >= DpNoise.gaussianEpsilon(sigma, delta) - 1e-12,
        s"sigma=$sigma eps=$eps")
    }
    assert(PLD.fromLaplace(1.0, 1e-3, pessimistic = true).epsilonForDelta(0)
      >= 1.0 - 1e-12)
    // the GENERIC construction has atom support, so pessimistic rounding
    // reproduces the reference's pldlib values essentially exactly
    // (budget_accounting_test.py "generic": 6.41455078125,
    // "generic_multiple": 6.71649169921875; measured diffs < 4e-4)
    def accP(eps: Double, delta: Double, count: Int): (Double, MechanismSpec) = {
      val a = new PLDBudgetAccountant(eps, delta, pldDiscretization = 1e-2,
        pessimistic = true)
      val h = a.requestBudget(MechanismType.PartitionSelection, count = count)
      a.computeBudgets()
      (a.baseNoiseStd.get, h.spec)
    }
    val (gBase, gSpec) = accP(0.22999925338484556, 1e-5, 1)
    assert(math.abs(gBase - 6.41455078125) < 1e-3)
    // ... and the resolved per-mechanism (eps, delta) reproduce the
    // reference's own expectations at its own 1e-3 tolerance
    // (budget_accounting_test.py:298-299, 313-314)
    assert(math.abs(gSpec.epsilon - 0.2204717161227536) < 1e-3,
      s"eps=${gSpec.epsilon}")
    assert(math.abs(gSpec.delta - 9.585757904781109e-06) < 1e-3,
      s"delta=${gSpec.delta}")
    val (gmBase, gmSpec) = accP(0.6599974547358093, 1e-5, 3)
    assert(math.abs(gmBase - 6.71649169921875) < 1e-3)
    assert(math.abs(gmSpec.epsilon - 0.21055837268995567) < 1e-3,
      s"eps=${gmSpec.epsilon}")
    assert(math.abs(gmSpec.delta - 3.190290677321479e-06) < 1e-3,
      s"delta=${gmSpec.delta}")
    // continuous mechanisms: plain ceil-binning is certified but LOOSE at
    // coarse h (O(h) bias inflates a 10-fold composition's epsilon when
    // per-mechanism losses are only a few grid cells wide); at the default
    // fine discretization the certified base lands within 1% of the
    // reference value while still dominating the mean-preserving base
    def accLap(pess: Boolean, h: Double): Double = {
      val a = new PLDBudgetAccountant(0.168, 1e-3, pldDiscretization = h,
        pessimistic = pess)
      a.requestBudget(Laplace, count = 10)
      a.computeBudgets()
      a.baseNoiseStd.get
    }
    val certified = accLap(pess = true, 1e-4)
    val tight = accLap(pess = false, 1e-4)
    assert(certified >= tight - 1e-12, s"$certified vs $tight")
    // at fine h the certified base converges to the tight one (O(h) bias)
    assert(certified <= tight * 1.02, s"certified=$certified tight=$tight")
    // at the REFERENCE's h (1e-2), plain-ceil certified must dominate the
    // reference's own (connect-the-dots pessimistic) 49.872 — same h, same
    // direction, looser construction. NOTE the reference value carries its
    // h=1e-2 pessimism: the true minimum is the fine-h `tight` (~49.3),
    // which is why the golden test above compares mean-preserving@1e-2 to
    // 49.872 and THIS test never compares across discretizations.
    assert(accLap(pess = true, 1e-2) >= 49.872 - 1e-9)
  }

  test("resolved base satisfies the reduced-delta budget when thresholding reserves delta") {
    // regression for the doubling-loop fix: the bracketing must verify the
    // upper candidate against totalDelta MINUS the 25% thresholding
    // reservation, or the search can return an overspending std
    val acc = new PLDBudgetAccountant(1.0, 1e-6, pldDiscretization = 1e-2)
    acc.requestBudget(GaussianThresholding)
    acc.requestBudget(Gaussian)
    acc.computeBudgets()
    val base = acc.baseNoiseStd.get
    val eps = acc.composeDistributions(base).epsilonForDelta(0.75 * 1e-6)
    assert(eps <= 1.0 + 1e-6, s"eps=$eps overspends the reduced-delta budget")
  }

  test("fromNoiseStd thresholding selections match their (eps, delta) counterparts") {
    val eps = 1.3; val delta = 1e-6; val l0 = 4
    // Laplace: eps/delta variant has b = l0/eps; equivalent noise std is b*sqrt2
    val lapRef = LaplaceThresholdingSelection(eps, delta, l0)
    val lapStd = graft.core.PartitionSelection.fromNoiseStd(
      PartitionSelectionStrategyKind.LaplaceThresholding,
      math.sqrt(2.0) * l0 / eps, delta, l0)
    assert(math.abs(lapStd.threshold - lapRef.threshold) < 1e-9)
    assert(math.abs(lapStd.probabilityOfKeep(30) - lapRef.probabilityOfKeep(30)) < 1e-12)
    // Gaussian: eps/delta variant spends delta/2 on noise, delta/2 on the
    // threshold; the std variant with the same sigma and thrDelta = delta/2
    // must land on the same threshold
    val gauRef = GaussianThresholdingSelection(eps, delta, l0)
    val sigma = DpNoise.gaussianSigma(eps, delta / 2, math.sqrt(l0.toDouble))
    val gauStd = graft.core.PartitionSelection.fromNoiseStd(
      PartitionSelectionStrategyKind.GaussianThresholding, sigma, delta / 2, l0)
    assert(math.abs(gauStd.threshold - gauRef.threshold) < 1e-9)
    assert(math.abs(gauStd.probabilityOfKeep(30) - gauRef.probabilityOfKeep(30)) < 1e-12)
    // zero noise keeps any count at/above threshold and returns it exactly
    assert(gauStd.noisedValueIfShouldKeep(100, NoiseSource.Zero).contains(100.0))
    intercept[IllegalArgumentException] {
      graft.core.PartitionSelection.fromNoiseStd(
        PartitionSelectionStrategyKind.TruncatedGeometric, 1.0, delta, l0)
    }
  }

  test("zero total delta: naive laplace split") {
    val acc = new PLDBudgetAccountant(2.0, 0.0)
    val a = acc.requestBudget(Laplace)
    val b = acc.requestBudget(Laplace, weight = 3)
    acc.computeBudgets()
    // base = sum_weights/eps*sqrt2 = 4/2*sqrt2; std_a = base, std_b = base/3
    assert(math.abs(acc.baseNoiseStd.get - 2 * math.sqrt(2.0)) < 1e-12)
    assert(math.abs(a.spec.noiseStdDev.get - 2 * math.sqrt(2.0)) < 1e-12)
    assert(math.abs(b.spec.noiseStdDev.get - 2 * math.sqrt(2.0) / 3) < 1e-12)
  }

  test("generic partition selection resolves to proportional (eps0, delta0)") {
    val acc = new PLDBudgetAccountant(1.0, 1e-6)
    val ps = acc.requestBudget(PartitionSelection)
    val lap = acc.requestBudget(Laplace)
    acc.computeBudgets()
    val spec = ps.spec
    val base = acc.baseNoiseStd.get
    assert(math.abs(spec.epsilon - math.sqrt(2.0) / base) < 1e-12)
    assert(math.abs(spec.delta - spec.epsilon / 1.0 * 1e-6) < 1e-18)
    assert(lap.spec.noiseStdDev.isDefined)
  }

  test("tree-release fleet under the accountant: n=64 Gaussian closed-form cross-check") {
    // 64 Gaussian tree releases (bins = 64 -> levels = 6) under ONE PLD
    // budget: the accountant must resolve a whole-release sigma whose
    // 64-fold self-composition exhausts (eps, delta) — and n identical
    // Gaussians compose as ONE Gaussian at sigma / sqrt(n), so the
    // resolved calibration has a closed form to pin against
    val (e, d) = (2.0, 1e-6)
    val acc = new PLDBudgetAccountant(e, d)
    val t = acc.requestTreeRelease(bins = 64, NoiseKind.Gaussian, count = 64)
    acc.computeBudgets()
    val sigmaNode = t.perNodeScale
    // per-node sigma = whole-release sigma * sqrt(levels+1)
    val sigmaRel = sigmaNode / math.sqrt(7.0)
    val composedEps = DpNoise.gaussianEpsilon(sigmaRel / 8.0, d)
    assert(composedEps <= e * 1.001 && composedEps > 0.93 * e,
      s"sigmaNode=$sigmaNode composed eps=$composedEps want ~$e")
    // the Gaussian fleet option beats Laplace at n = 64 for the same
    // budget: per-node noise STD (Laplace std = b * sqrt(2)) is smaller
    val accL = new PLDBudgetAccountant(e, d)
    val tL = accL.requestTreeRelease(bins = 64, NoiseKind.Laplace, count = 64)
    accL.computeBudgets()
    assert(sigmaNode < tL.perNodeScale * math.sqrt(2.0),
      s"gaussian $sigmaNode !< laplace std ${tL.perNodeScale * math.sqrt(2.0)}")
    // ONE budget covers engine queries AND the fleet: adding a plain
    // Gaussian engine mechanism beside the fleet costs both sides noise
    val accM = new PLDBudgetAccountant(e, d)
    val tM = accM.requestTreeRelease(bins = 64, NoiseKind.Gaussian, count = 64)
    val gM = accM.requestBudget(MechanismType.Gaussian)
    accM.computeBudgets()
    assert(tM.perNodeScale > sigmaNode, "fleet must pay for the engine query")
    assert(gM.spec.noiseStdDev.exists(_ > 0))
    // the naive accountant resolves the same surface to exact per-use
    // (eps, delta) -> the one-shot treeScale calibration
    val accN = new NaiveBudgetAccountant(1.0, 0.0)
    val tN = accN.requestTreeRelease(bins = 64, NoiseKind.Laplace,
      weight = 1.0, count = 1, unitLinf = 10.0)
    accN.computeBudgets()
    // full epsilon to the single release: b = unitLinf * (levels+1) / eps
    assert(math.abs(tN.perNodeScale - 10.0 * 7 / 1.0) < 1e-9,
      s"b=${tN.perNodeScale}")
  }

  test("request after compute and double compute throw") {
    val acc = new PLDBudgetAccountant(1.0, 1e-6)
    acc.requestBudget(Laplace)
    acc.computeBudgets()
    intercept[IllegalArgumentException] { acc.requestBudget(Laplace) }
    intercept[IllegalArgumentException] { acc.computeBudgets() }
  }

  test("gaussian with zero total delta throws") {
    val acc = new PLDBudgetAccountant(1.0, 0.0)
    intercept[IllegalArgumentException] { acc.requestBudget(Gaussian) }
  }
}

class SnappedLaplaceSpec extends AnyFunSuite {

  test("granularity is a power of two >= b/2^40") {
    for (b <- Seq(1.0, 0.001, 3.7, 123456.0)) {
      val g = DpNoise.laplaceGranularity(b)
      assert(g >= b / math.pow(2, 40))
      assert(g < b / math.pow(2, 39))
      val e = math.log(g) / math.log(2.0)
      assert(math.abs(e - math.rint(e)) < 1e-12, s"not a power of 2: $g")
    }
  }

  test("secure laplace noise sits on the granularity grid with std ~ b*sqrt(2)") {
    val b = 2.0
    val g = DpNoise.laplaceGranularity(b)
    val draws = Array.fill(20000)(NoiseSource.Secure.laplace(b))
    draws.foreach { d =>
      val k = d / g
      assert(k == math.rint(k), s"off-grid draw $d")
    }
    val std = math.sqrt(draws.map(x => x * x).sum / draws.length)
    assert(math.abs(std - b * math.sqrt(2.0)) < 0.1, s"std $std")
    // roughly symmetric
    assert(math.abs(draws.count(_ > 0) - draws.count(_ < 0)) < 800)
  }

  test("value snapping is the identity for integer-valued doubles") {
    val mech = LaplaceMechanism.fromEpsilon(0.5, 100.0) // b = 200
    for (v <- Seq(0.0, 1.0, 12345.0, -987654.0, 1e12))
      assert(mech.addNoise(v, NoiseSource.Zero) == v)
  }
}

class SymmetricBinomialGaussianSpec extends AnyFunSuite {

  test("granularity is a power of two with sqrt(n) in (2^56, 2^57]") {
    for (sigma <- Seq(1.0, 0.003, 42.5, 1.7e6)) {
      val g = DpNoise.gaussianGranularity(sigma)
      val e = math.log(g) / math.log(2.0)
      assert(math.abs(e - math.rint(e)) < 1e-12, s"not a power of 2: $g")
      val sqrtN = 2.0 * sigma / g
      assert(sqrtN > math.pow(2, 56) * 0.999 && sqrtN <= math.pow(2, 57), s"sqrtN $sqrtN")
    }
  }

  test("secure gaussian draws sit on the grid with correct mean/std/tails") {
    val sigma = 3.0
    val g = DpNoise.gaussianGranularity(sigma)
    val n = 100000
    val draws = Array.fill(n)(NoiseSource.Secure.gaussian(sigma))
    draws.foreach { d =>
      val k = d / g
      assert(k == math.rint(k), s"off-grid draw $d")
    }
    val mean = draws.sum / n
    // std of the sample mean is sigma/sqrt(n) ~ 0.0095; 6-sigma tolerance
    assert(math.abs(mean) < 0.06, s"mean $mean")
    val variance = draws.map(x => (x - mean) * (x - mean)).sum / n
    // relative s.e. of the variance is sqrt(2/n) ~ 0.45%; 6-sigma tolerance
    assert(math.abs(variance / (sigma * sigma) - 1.0) < 0.03, s"variance $variance")
    // two-sided tail beyond 1.96 sigma: expect ~5%
    val tail = draws.count(d => math.abs(d) > 1.96 * sigma).toDouble / n
    assert(math.abs(tail - 0.05) < 0.006, s"tail $tail")
    // beyond 3 sigma: expect ~0.27%
    val tail3 = draws.count(d => math.abs(d) > 3.0 * sigma).toDouble / n
    assert(math.abs(tail3 - 0.0027) < 0.0015, s"tail3 $tail3")
  }

  test("gaussian value snapping is the identity for integer-valued doubles") {
    val mech = GaussianMechanism.fromStdDeviation(57.3, 2.0)
    for (v <- Seq(0.0, 1.0, 12345.0, -987654.0, 1e12))
      assert(mech.addNoise(v, NoiseSource.Zero) == v)
  }

  test("extreme weights do not crash the PLD bracketing probe (infeasible, not error)") {
    // the hi = 1.0 probe constructs PLDs for absurdly small noise
    // candidates; before the r10 guards, a weight-20 Gaussian crashed
    // fromGaussian with NegativeArraySizeException (loss support entirely
    // above the cap) and a weight-50 PartitionSelection tripped
    // fromPrivacyParameters' delta0 < 1 require — both for perfectly
    // satisfiable budgets
    val g = new PLDBudgetAccountant(1.0, 1e-6)
    g.requestBudget(MechanismType.Gaussian, weight = 20)
    g.computeBudgets()
    assert(g.baseNoiseStd.exists(s => s > 0 && java.lang.Double.isFinite(s)))
    val p = new PLDBudgetAccountant(0.1, 0.01)
    p.requestBudget(MechanismType.PartitionSelection, weight = 50)
    p.computeBudgets()
    assert(p.baseNoiseStd.exists(s => s > 0 && java.lang.Double.isFinite(s)))
  }

  test("thresholding delta splits per USE: a count=c handle gets delta/(4c) per use") {
    val acc = new PLDBudgetAccountant(1.0, 1e-6)
    val h = acc.requestBudget(MechanismType.LaplaceThresholding, count = 4)
    acc.computeBudgets()
    // 25% of delta reserved for thresholding, split over the 4 USES —
    // per-handle splitting would hand each use the full reservation and
    // overspend it 4-fold
    assert(h.spec.thresholdingDelta.contains(0.25 * 1e-6 / 4))
  }

  test("thresholds stay finite at tiny adjusted deltas (no 1-delta cancellation)") {
    // deltaAdj ~ 1e-18 is routine once a small total delta splits across
    // mechanisms and l0; forming 1.0 - deltaAdj first rounded to 1.0 and
    // the Laplace threshold became -log(0) = +Infinity (every partition
    // silently suppressed)
    val tL = graft.core.PartitionSelection.laplaceThreshold(2.0, 1e-18, 1)
    assert(java.lang.Double.isFinite(tL) && tL > 0, s"laplace $tL")
    // -b*log(2d) at b=2, d=1e-18: ~ 2*40.8 + 1
    assert(math.abs(tL - (1.0 - 2.0 * math.log(2e-18))) < 1e-9)
    val tG = graft.core.PartitionSelection.gaussianThreshold(2.0, 1e-18, 1)
    assert(java.lang.Double.isFinite(tG) && tG > 0, s"gaussian $tG")
    // PhiInverse(1e-18) ~ -8.76; threshold ~ 1 + 2*8.76
    assert(tG > 15 && tG < 20, s"gaussian $tG")
    // and the mid-range values agree with the textbook closed forms
    assert(math.abs(graft.core.PartitionSelection.laplaceThreshold(1.0, 0.25, 1)
      - (1.0 - math.log(0.5))) < 1e-12)
    // WeightedGaussianSelection shares the stable lower-tail form (r15
    // core review: it still formed 1 - deltaAdj, which rounds to 1.0 at
    // tiny deltas and crashed phiInverse)
    val wTiny = graft.core.WeightedGaussianSelection(2.0, 1e-18, 4)
    assert(java.lang.Double.isFinite(wTiny.threshold) && wTiny.threshold > 1.0,
      s"weighted ${wTiny.threshold}")
    // moderate deltas: identical to the 1 + sigma * PhiInverse(1 - d) form
    val wMid = graft.core.WeightedGaussianSelection(2.0, 1e-6, 4)
    val dAdj = -math.expm1(math.log1p(-5e-7) / 4)
    val legacy = 1.0 + wMid.sigma * graft.core.DpNoise.phiInverse(1.0 - dAdj)
    assert(math.abs(wMid.threshold - legacy) < 1e-9 * math.abs(legacy),
      s"${wMid.threshold} vs $legacy")
  }

}
