package graft.core

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Resolved budget for one mechanism after budget computation.
  *
  * Either (epsilon, delta) is authoritative (naive accounting, and generic /
  * partition-selection mechanisms under PLD), or `noiseStdDev` is set (PLD
  * accounting for additive mechanisms): the NORMALIZED noise standard
  * deviation per unit of sensitivity — the mechanism's actual noise std is
  * `noiseStdDev * sensitivity` (reference: dp_computations.py:495-556,
  * budget_accounting.py:43-123). */
final case class MechanismSpec(
    mechanismType: MechanismType,
    name: String,
    epsilon: Double,
    delta: Double,
    noiseStdDev: Option[Double] = None,
    thresholdingDelta: Option[Double] = None
) extends Serializable {
  def noiseKind: NoiseKind = mechanismType match {
    case MechanismType.Laplace | MechanismType.LaplaceThresholding => NoiseKind.Laplace
    case MechanismType.Gaussian | MechanismType.GaussianThresholding => NoiseKind.Gaussian
    case MechanismType.PartitionSelection =>
      throw new IllegalStateException("partition selection has no noise kind")
  }
}

/** A pending budget request; resolves to a [[MechanismSpec]] after
  * `computeBudgets()`. Unlike the reference's mutate-after-capture
  * `MechanismSpec` (reference: budget_accounting.py:43-123, 448-476), the
  * handle is explicit about the two-phase lifecycle: reading `.spec` before
  * resolution throws — Spark closures must only capture resolved specs.
  */
final class BudgetHandle private[core] (
    val mechanismType: MechanismType,
    initialWeight: Double,
    val count: Int,
    val name: String,
    val sensitivity: Double
) {
  private var _weight: Double = initialWeight
  /** Effective weight; scopes may rescale it before computeBudgets. */
  def weight: Double = _weight
  private[core] def scaleWeight(f: Double): Unit = { _weight *= f }
  private[core] var resolved: Option[MechanismSpec] = None
  def spec: MechanismSpec = resolved.getOrElse(
    throw new IllegalStateException(
      s"budget for '$name' not computed yet — call computeBudgets() before building the physical plan"))
  private[core] def useDelta: Boolean = mechanismType != MechanismType.Laplace
  private[core] def epsWeight: Double = weight * count
  private[core] def deltaWeight: Double = if (useDelta) weight * count else 0.0
}

/** A pending WHOLE-TREE-RELEASE budget request (r15, promoting the
  * [[graft.spark.RangeTree.treeCompositionEpsilon]] fleet math into the
  * accountant): one dyadic tree release — a range tree over `bins` bins
  * or a continual release over a `bins`-tick horizon — accounts as ONE
  * mechanism at unit sensitivity (a Laplace tree's whole-release loss is
  * exactly scalar Laplace at ratio b/Delta1; a Gaussian tree's is exactly
  * scalar Gaussian at sigma/Delta2 by rotation invariance — the tree
  * shape is already inside the calibration), so it composes with every
  * other engine mechanism under the same accountant and the SAME scope /
  * weight semantics. After `computeBudgets()`, [[perNodeScale]] is the
  * calibration the release must use (feed it to
  * `RangeTree.rangeTreeReleaseWithScale`). */
final class TreeReleaseHandle private[core] (
    val handle: BudgetHandle,
    val touches: Int, // released nodes one bounded row lands in
    val unitLinf: Double,
    val treeNoiseKind: NoiseKind
) {
  /** The per-node noise scale (Laplace b or Gaussian sigma) the resolved
    * budget buys: the accountant resolves the WHOLE-RELEASE normalized
    * loss (PLD: normalized noise std; naive: per-use (eps, delta)), and
    * the tree's sensitivity structure converts it to per-node units —
    * L1 = unitLinf * touches for Laplace, L2 = unitLinf * sqrt(touches)
    * for Gaussian, where touches = levels+1 for the 1-D dyadic tree and
    * (levelsX+1)*(levelsY+1) for the 2-D product tree (the
    * [[graft.spark.RangeTree.treeScale]] derivation). */
  def perNodeScale: Double = {
    val spec = handle.spec
    spec.noiseStdDev match {
      case Some(nstd) => treeNoiseKind match {
        // PLD path: nstd is the whole-release normalized noise std.
        // Laplace: scalar scale beta = nstd / sqrt(2); per-node
        // b = beta * Delta1. Gaussian: scalar sigma = nstd; per-node
        // sigma = nstd * Delta2.
        case NoiseKind.Laplace =>
          nstd / math.sqrt(2.0) * unitLinf * touches
        case NoiseKind.Gaussian =>
          nstd * unitLinf * math.sqrt(touches.toDouble)
      }
      case None => treeNoiseKind match {
        // naive path: exact per-use (eps, delta) calibration — the
        // one-shot treeScale formulas
        case NoiseKind.Laplace =>
          unitLinf * touches / spec.epsilon
        case NoiseKind.Gaussian =>
          DpNoise.gaussianSigma(spec.epsilon, spec.delta,
            unitLinf * math.sqrt(touches.toDouble))
      }
    }
  }
}

/** AMPLIFICATION BY SHUFFLING — the closed-form bridge from the LOCAL
  * trust model to central accounting (Feldman-McMillan-Talwar, "Hiding
  * Among the Clones", FOCS 2021, arXiv:2012.12803 Thm 3.1): when n
  * units each run an eps0-LDP randomizer and a shuffler discards
  * report-to-unit linkage before the analyst sees the reports, the
  * shuffled collection is (eps, delta)-DP centrally with
  *
  *   eps = ln(1 + (e^eps0 - 1) * (4 sqrt(2 ln(4/delta) /
  *           ((e^eps0 + 1) n)) + 4 / n))
  *
  * valid while eps0 <= ln(n / (16 ln(2/delta))). Lives in core (pure
  * math, zero Spark dependency) so [[BudgetAccountant]] can resolve
  * shuffled releases; [[graft.spark.LocalDP.shuffleAmplifiedEpsilon]]
  * is the public face and delegates here. */
object ShuffleAmplification {
  /** The bound's validity cap on eps0 at (n, delta). */
  def validityCap(n: Long, delta: Double): Double = {
    require(n >= 2, s"shuffling needs n >= 2 reports, got $n")
    require(delta > 0 && delta < 1, s"delta must be in (0, 1), got $delta")
    math.log(n / (16.0 * math.log(2.0 / delta)))
  }

  /** Central epsilon of n shuffled eps0-LDP reports at delta —
    * fail-loud outside the bound's validity regime. */
  def amplifiedEpsilon(epsilon0: Double, n: Long, delta: Double): Double = {
    require(epsilon0 > 0, s"epsilon0 must be positive, got $epsilon0")
    val cap = validityCap(n, delta)
    require(epsilon0 <= cap,
      f"shuffleAmplifiedEpsilon: eps0 = $epsilon0%g exceeds the bound's " +
        f"validity cap ln(n / (16 ln(2/delta))) = $cap%g at n = $n — " +
        "the FMT'21 clone reduction does not apply; lower eps0 or " +
        "collect more reports")
    val e0 = math.exp(epsilon0)
    math.log1p((e0 - 1.0) *
      (4.0 * math.sqrt(2.0 * math.log(4.0 / delta) / ((e0 + 1.0) * n)) +
        4.0 / n))
  }

  /** The INVERSE the accountant needs: the largest local eps0 whose
    * amplified central loss at (n, delta) fits inside epsCentral —
    * "budget in, randomizer calibration out", the
    * [[TreeReleaseHandle.perNodeScale]] shape. The amplified epsilon is
    * strictly increasing in eps0 (spec-pinned), so bisection converges;
    * when even the validity cap's amplified loss fits, the cap itself
    * is returned (the bound cannot certify anything larger — spending
    * the leftover budget would need more reports). */
  def maxLocalEpsilon(epsCentral: Double, n: Long, delta: Double): Double = {
    require(epsCentral > 0,
      s"central epsilon must be positive, got $epsCentral")
    val cap = validityCap(n, delta)
    require(cap > 0,
      f"shuffle amplification needs n > 16 ln(2/delta) reports " +
        f"(validity cap $cap%g <= 0 at n = $n, delta = $delta%g) — " +
        "collect more reports or raise delta")
    if (amplifiedEpsilon(cap, n, delta) <= epsCentral) cap
    else {
      var lo = 0.0
      var hi = cap
      var it = 0
      while (it < 200 && hi - lo > 1e-12 * math.max(1.0, hi)) {
        val mid = lo + (hi - lo) / 2
        if (amplifiedEpsilon(mid, n, delta) <= epsCentral) lo = mid
        else hi = mid
        it += 1
      }
      lo
    }
  }
}

/** A pending SHUFFLED-LDP-RELEASE budget request (r17, promoting
  * [[ShuffleAmplification]] into the accountant the way
  * [[TreeReleaseHandle]] promoted the tree fleets): one shuffled
  * collection of `nReports` local reports accounts as ONE generic
  * (eps, delta) mechanism — it composes with every central mechanism
  * under the same ledger, scopes, and weights. After `computeBudgets()`,
  * [[localEpsilon]] is the calibration the fleet's LOCAL randomizer must
  * use (feed it to `LocalDP.ldpFrequencyOLH` / `ldpFrequency` /
  * `ldpMean` as their `epsilon`): the largest eps0 whose FMT'21
  * amplified central loss fits the resolved (eps, delta) share. */
final class ShuffledLdpReleaseHandle private[core] (
    val handle: BudgetHandle,
    val nReports: Long
) {
  /** The resolved central (epsilon, delta) this release consumes. */
  def centralEpsilon: Double = handle.spec.epsilon
  def centralDelta: Double = handle.spec.delta

  /** The local randomizer's eps0 the resolved budget buys (see class
    * doc). Fail-loud when the accountant resolved a zero delta share —
    * the shuffle bound is inherently approximate-DP. */
  def localEpsilon: Double = {
    val spec = handle.spec
    require(spec.delta > 0,
      s"shuffled LDP release '${spec.name}' resolved delta = 0 — the " +
        "FMT'21 bound is (eps, delta)-DP; give the accountant a " +
        "positive total delta")
    ShuffleAmplification.maxLocalEpsilon(spec.epsilon, nReports, spec.delta)
  }
}

/** Common surface of the budget accountants (reference:
  * budget_accounting.py:129-360 BudgetAccountant base). */
sealed abstract class BudgetAccountant(
    val totalEpsilon: Double,
    val totalDelta: Double,
    numAggregations: Option[Int]
) {
  require(totalEpsilon > 0, s"totalEpsilon must be > 0, got $totalEpsilon")
  require(totalDelta >= 0 && totalDelta < 1, s"totalDelta must be in [0,1), got $totalDelta")

  protected val requests = ArrayBuffer.empty[BudgetHandle]
  protected var finalized = false
  private var aggregationCount = 0

  def requestBudget(
      mechanismType: MechanismType,
      weight: Double = 1.0,
      count: Int = 1,
      name: String = "",
      sensitivity: Double = 1.0
  ): BudgetHandle = {
    require(!finalized,
      "requestBudget() called after computeBudgets(); build all aggregations first")
    require(weight > 0, s"budget weight must be > 0, got $weight " +
      "(zero resolves to infinite noise scale and NaN metrics deep inside tasks)")
    require(count >= 1, s"budget count must be >= 1, got $count")
    require(sensitivity > 0, s"sensitivity must be > 0, got $sensitivity")
    // Every delta-consuming mechanism (Gaussian, either thresholding kind,
    // partition selection) is undefined without delta; only pure Laplace may
    // run under totalDelta == 0.
    if (totalDelta == 0 && mechanismType != MechanismType.Laplace)
      throw new IllegalArgumentException(
        s"$mechanismType mechanism requires total delta > 0")
    val h = new BudgetHandle(mechanismType, weight, count, name, sensitivity)
    requests += h
    h
  }

  /** Register `count` whole-tree releases (range trees over `bins` bins
    * or continual releases over a `bins`-tick horizon, all at the same
    * shape) as mechanisms under THIS accountant, so one budget covers
    * engine queries AND tree fleets — the reference's scope surface
    * (budget_accounting.py:138-359) extended to the tree families.
    * Composes under [[scope]]/weights like any request; under PLD the
    * composition is tight (n Gaussian releases compose as ONE Gaussian
    * at sigma/sqrt(n) — where the Gaussian tree option wins at fleet
    * scale, spec-pinned at n = 64 against the closed form). Read the
    * calibration off [[TreeReleaseHandle.perNodeScale]] after
    * `computeBudgets()`. */
  def requestTreeRelease(
      bins: Int,
      noiseKind: NoiseKind,
      weight: Double = 1.0,
      count: Int = 1,
      name: String = "",
      unitLinf: Double = 1.0
  ): TreeReleaseHandle = {
    require(bins >= 2 && (bins & (bins - 1)) == 0,
      s"bins must be a power of two >= 2, got $bins (the dyadic tree)")
    require(unitLinf > 0, s"unitLinf must be positive, got $unitLinf")
    val levels = 31 - Integer.numberOfLeadingZeros(bins)
    val mt = noiseKind match {
      case NoiseKind.Laplace  => MechanismType.Laplace
      case NoiseKind.Gaussian => MechanismType.Gaussian
    }
    // unit sensitivity: the whole-release loss is the scalar mechanism's
    // (see TreeReleaseHandle) — levels/unitLinf re-enter only in the
    // perNodeScale conversion
    val h = requestBudget(mt, weight, count, name, sensitivity = 1.0)
    new TreeReleaseHandle(h, levels + 1, unitLinf, noiseKind)
  }

  /** [[requestTreeRelease]] for the 2-D PRODUCT tree
    * ([[graft.spark.RangeTree.dpRange2DTree]]): one bounded row lands in
    * (levelsX+1)*(levelsY+1) nodes, and the same scalar-mechanism
    * equivalence holds (the whole-release L1/L2 is already inside the
    * calibration), so a 2-D release is ONE mechanism at unit sensitivity
    * under any accountant. Feed [[TreeReleaseHandle.perNodeScale]] to a
    * scale-parameterized 2-D release. */
  def requestTreeRelease2D(
      binsX: Int,
      binsY: Int,
      noiseKind: NoiseKind,
      weight: Double = 1.0,
      count: Int = 1,
      name: String = "",
      unitLinf: Double = 1.0
  ): TreeReleaseHandle = {
    // mirror the release path's feasibility caps
    // (graft.spark.RangeTree.dpRange2DTreeWithScale): an accountant that
    // resolved a budget the release would later reject strands the spent
    // registration — infeasible releases must fail BEFORE registration
    require(binsX >= 2 && (binsX & (binsX - 1)) == 0 && binsX <= 4096,
      s"binsX must be a power of two in [2, 4096], got $binsX (the dyadic tree)")
    require(binsY >= 2 && (binsY & (binsY - 1)) == 0 && binsY <= 4096,
      s"binsY must be a power of two in [2, 4096], got $binsY (the dyadic tree)")
    require(binsX.toLong * binsY <= 65536L,
      s"binsX * binsY must be <= 65536 (got ${binsX.toLong * binsY}) — " +
        "the release path caps one product tree's literal noise frame at " +
        "(2*binsX-1)*(2*binsY-1) driver rows; coarsen one axis")
    require(unitLinf > 0, s"unitLinf must be positive, got $unitLinf")
    val levelsX = 31 - Integer.numberOfLeadingZeros(binsX)
    val levelsY = 31 - Integer.numberOfLeadingZeros(binsY)
    val mt = noiseKind match {
      case NoiseKind.Laplace  => MechanismType.Laplace
      case NoiseKind.Gaussian => MechanismType.Gaussian
    }
    val h = requestBudget(mt, weight, count, name, sensitivity = 1.0)
    new TreeReleaseHandle(h, (levelsX + 1) * (levelsY + 1), unitLinf,
      noiseKind)
  }

  /** Register `count` SHUFFLED-LDP releases (n local eps0-LDP reports
    * each, shuffled before the analyst — the telemetry trust model) as
    * mechanisms under THIS accountant, so one ledger covers central
    * engine queries, tree fleets, AND shuffled local telemetry. The
    * release registers on the accountant's generic-(eps, delta)
    * resolution path (the partition-selection mechanism class:
    * authoritative (eps, delta) under naive splitting, a
    * privacy-parameters PLD under tight composition) — the shuffled
    * collection IS a generic (eps, delta) mechanism centrally; its
    * internal structure is entirely inside the FMT'21 conversion. Read
    * the local randomizer's calibration off
    * [[ShuffledLdpReleaseHandle.localEpsilon]] after `computeBudgets()`. */
  def requestShuffledLdpRelease(
      nReports: Long,
      weight: Double = 1.0,
      count: Int = 1,
      name: String = ""
  ): ShuffledLdpReleaseHandle = {
    require(nReports >= 2,
      s"shuffling needs n >= 2 reports, got $nReports")
    require(totalDelta > 0,
      "a shuffled LDP release is (eps, delta)-DP (the FMT'21 bound) — " +
        "the accountant's total delta must be positive")
    val h = requestBudget(MechanismType.PartitionSelection, weight, count,
      name, sensitivity = 1.0)
    new ShuffledLdpReleaseHandle(h, nReports)
  }

  private[graft] def registerAggregation(): Unit = { aggregationCount += 1 }

  /** Scoped weight normalization: the weights of all budget requests made
    * inside `body` are rescaled so they sum to `weight` — several
    * aggregations can be grouped under one logical budget share. Nesting
    * normalizes inner-scope weights first, then the outer scope rescales
    * them again, matching the reference's scope-stack registration
    * (reference: budget_accounting.py:334-359 BudgetAccountantScope). */
  def scope[T](weight: Double)(body: => T): T = {
    require(weight > 0, "scope weight must be positive")
    val before = requests.length
    val result = body
    val scoped = requests.drop(before)
    if (scoped.nonEmpty) {
      val total = scoped.iterator.map(_.weight).sum
      val factor = weight / total
      scoped.foreach(_.scaleWeight(factor))
    }
    result
  }

  protected def checkAndFinalize(): Unit = {
    require(!finalized, "computeBudgets() already called")
    numAggregations.foreach { n =>
      require(aggregationCount == n, s"expected $n aggregations, got $aggregationCount")
    }
    finalized = true
  }

  /** Resolve every pending request. Must run driver-side before any Spark
    * action on a plan that consumes the specs. */
  def computeBudgets(): Unit

  def isFinalized: Boolean = finalized

  /** The end-to-end BUDGET STORY (r19): the composition half of an
    * explain — accountant kind, total budget, and one line per
    * registered mechanism (engine aggregations, partition selections,
    * tree releases, custom combiners — everything routes through
    * [[requestBudget]]) with its weight/count/sensitivity and, after
    * `computeBudgets()`, its resolved epsilon/delta/noise scale.
    * [[graft.spark.Explain]] composes this with the per-release
    * mechanism-level explain sections. */
  def budgetStory: String = {
    val kind = this match {
      case _: NaiveBudgetAccountant =>
        "NaiveBudgetAccountant (basic composition: proportional epsilon/delta split)"
      case _: PLDBudgetAccountant =>
        "PLDBudgetAccountant (tight numerical PLD composition)"
    }
    val sb = new StringBuilder
    sb ++= s"Budget story: $kind\n"
    sb ++= f"  total budget: epsilon = $totalEpsilon%.6g, delta = $totalDelta%.4g\n"
    if (requests.isEmpty) sb ++= "  no mechanisms registered"
    else if (!finalized) {
      sb ++= s"  ${requests.length} mechanism(s) registered, budgets NOT " +
        "yet resolved (call computeBudgets()):\n"
      requests.zipWithIndex.foreach { case (h, i) =>
        val nm = if (h.name.isEmpty) "(unnamed)" else s"'${h.name}'"
        sb ++= f"  ${i + 1}. $nm%s ${h.mechanismType}%s: weight = ${h.weight}%.4g x count = ${h.count}%d, sensitivity = ${h.sensitivity}%.4g\n"
      }
    } else {
      requests.zipWithIndex.foreach { case (h, i) =>
        val nm = if (h.name.isEmpty) "(unnamed)" else s"'${h.name}'"
        val s = h.spec
        val noiseTxt = s.noiseStdDev
          .map(v => f", noise stddev = $v%.6g").getOrElse("")
        val thrTxt = s.thresholdingDelta
          .map(v => f", thresholding delta = $v%.4g").getOrElse("")
        sb ++= f"  ${i + 1}. $nm%s ${h.mechanismType}%s: weight = ${h.weight}%.4g x count = ${h.count}%d, sensitivity = ${h.sensitivity}%.4g -> epsilon = ${s.epsilon}%.6g, delta = ${s.delta}%.4g$noiseTxt%s$thrTxt%s\n"
      }
    }
    sb.result().stripTrailing()
  }
}

/** Naive (basic-composition) budget accountant: total epsilon is split across
  * all requested mechanisms proportionally to weight*count; total delta is
  * split only across delta-consuming mechanisms (Gaussian, partition
  * selection) (reference: budget_accounting.py:362-476).
  */
final class NaiveBudgetAccountant(
    totalEpsilon: Double,
    totalDelta: Double,
    numAggregations: Option[Int] = None
) extends BudgetAccountant(totalEpsilon, totalDelta, numAggregations) {

  def computeBudgets(): Unit = {
    checkAndFinalize()
    val totalEpsWeight = requests.iterator.map(_.epsWeight).sum
    val totalDeltaWeight = requests.iterator.map(_.deltaWeight).sum
    requests.foreach { h =>
      // The resolved spec is PER-USE: a handle with count=n is applied n
      // times, so its numerator is `weight` while the denominator sums
      // weight*count — total consumption over n uses is n*weight/Σ(w·c),
      // exactly the reference formula (budget_accounting.py:462-476).
      val eps = if (totalEpsWeight > 0) totalEpsilon * h.weight / totalEpsWeight else 0.0
      val delta =
        if (h.deltaWeight > 0 && totalDeltaWeight > 0) totalDelta * h.weight / totalDeltaWeight
        else 0.0
      h.resolved = Some(MechanismSpec(h.mechanismType, h.name, eps, delta))
    }
  }
}

/** Privacy-loss-distribution budget accountant: composes all requested
  * mechanisms as PLDs and binary-searches the minimal base noise standard
  * deviation whose composition still satisfies (totalEpsilon, totalDelta).
  * Tight numerical composition — for many mechanisms it gives substantially
  * less noise than naive splitting (reference: budget_accounting.py:479-747,
  * which delegates the PLD math to Google's dp_accounting; the PLD itself is
  * [[PLD]], reimplemented from the published algorithm).
  *
  * Each additive mechanism resolves to a normalized noise std of
  * `sensitivity * base / weight`; thresholding mechanisms additionally carry
  * a thresholding delta (25% of total delta split among them); generic
  * (partition selection) mechanisms resolve to (eps0, delta0) with
  * eps0 = sqrt(2)/std and delta0 proportional to eps0.
  *
  * ACCURACY GUARANTEE (documented deviation): [[PLD]] uses mean-preserving
  * (connect-the-dots-class) discretization, which is approximately unbiased
  * rather than pessimistic — the composed (eps, delta) can be UNDER-estimated
  * by O(h) after long compositions (h = `pldDiscretization`), unlike a
  * ceil-binned PLD whose estimate is a strict upper bound. This matches the
  * accuracy class of Google's dp_accounting default; callers needing a
  * CERTIFIED upper bound pass `pessimistic = true`, which rounds every
  * loss UP to the grid (the dp_accounting `pessimistic_estimate`
  * direction) so the resolved noise stds are guaranteed sufficient —
  * at O(h) bias per mechanism instead of O(h^2). */
final class PLDBudgetAccountant(
    totalEpsilon: Double,
    totalDelta: Double,
    val pldDiscretization: Double = 1e-4,
    numAggregations: Option[Int] = None,
    val pessimistic: Boolean = false
) extends BudgetAccountant(totalEpsilon, totalDelta, numAggregations) {
  import MechanismType._

  /** The computed base noise std (None until computeBudgets, or if no
    * mechanisms were requested). */
  var baseNoiseStd: Option[Double] = None

  private val sqrt2 = math.sqrt(2.0)

  private def isThresholding(t: MechanismType): Boolean =
    t == LaplaceThresholding || t == GaussianThresholding

  def computeBudgets(): Unit = {
    checkAndFinalize()
    if (requests.isEmpty) return
    val base =
      if (totalDelta == 0)
        // all mechanisms are pure-DP Laplace; naive epsilon split — a
        // mechanism applied count times composes count-fold here exactly
        // as the PLD path selfComposes it (reference:
        // budget_accounting.py:600-605). Each use consumes
        // eps = sqrt(2)/mechStd = sqrt(2)*w/(s*base), so the base that
        // makes the uses sum to totalEpsilon weighs every request by
        // count*weight/SENSITIVITY — dividing by s here is what the
        // PLD path does implicitly via singlePld's mechStd; summing
        // plain weight*count overspent epsilon s-fold for any
        // sensitivity < 1 (and wasted budget for s > 1)
        requests.iterator.map(h => h.epsWeight / h.sensitivity).sum /
          totalEpsilon * sqrt2
      else findMinimumBaseNoiseStd()
    baseNoiseStd = Some(base)
    // the reserved thresholding delta is split per USE, not per handle:
    // the resolved spec's thresholdingDelta is applied once per use, so a
    // handle with count = c consumes c shares
    val nThresholdingUses = requests.iterator
      .filter(h => isThresholding(h.mechanismType)).map(_.count.toLong).sum
    val thresholdingDeltaPerMechanism =
      if (nThresholdingUses > 0) thresholdingDelta / nThresholdingUses else 0.0
    requests.foreach { h =>
      val mechStd = h.sensitivity * base / h.weight
      h.mechanismType match {
        case PartitionSelection =>
          // generic mechanism: eps from the Laplace-equivalent noise, delta
          // proportional (reference: budget_accounting.py:616-622)
          val eps0 = sqrt2 / mechStd
          val delta0 = eps0 / totalEpsilon * totalDelta
          h.resolved = Some(MechanismSpec(h.mechanismType, h.name, eps0, delta0))
        case t =>
          val thr = if (isThresholding(t)) Some(thresholdingDeltaPerMechanism) else None
          h.resolved = Some(MechanismSpec(t, h.name, 0.0, 0.0, Some(mechStd), thr))
      }
    }
  }

  /** 25% of total delta goes to thresholding when any thresholding mechanism
    * is present (reference: budget_accounting.py:706-710). */
  private def thresholdingDelta: Double =
    if (requests.exists(h => isThresholding(h.mechanismType))) 0.25 * totalDelta else 0.0

  /** The noise family that decides a request's PLD: a thresholding
    * mechanism's PLD is its additive counterpart's. */
  private def pldFamily(t: MechanismType): MechanismType = t match {
    case LaplaceThresholding => Laplace
    case GaussianThresholding => Gaussian
    case other => other
  }

  /** The PLD of one request type at normalized noise std `mechStd` (a
    * request's `sensitivity * base / weight`). */
  private def singlePld(t: MechanismType, mechStd: Double): PLD =
    t match {
      case Laplace | LaplaceThresholding =>
        PLD.fromLaplace(mechStd / sqrt2, pldDiscretization, pessimistic)
      case Gaussian | GaussianThresholding =>
        PLD.fromGaussian(mechStd, pldDiscretization, pessimistic)
      case PartitionSelection =>
        val eps0 = sqrt2 / mechStd
        val delta0 = eps0 / totalEpsilon * totalDelta
        if (delta0 >= 1)
          // the bracketing probe can imply a per-use delta past 1 for a
          // tiny noise candidate: that candidate is infeasible, not a
          // constructor-contract violation
          PLD.alwaysInfeasible(pldDiscretization)
        else PLD.fromPrivacyParameters(eps0, delta0, pldDiscretization, pessimistic)
    }

  /** The composition fold shared by [[composeDistributions]] and
    * [[epsilonForBase]] — ONE definition of the order / selfCompose
    * handling, so the public composition and what the budget search
    * optimizes cannot diverge. `abortIfInfAbove` enables the early
    * infinity-mass exit (None = composed PLD can never satisfy it).
    * Requests of one family at one normalized std (e.g. MeanCount and
    * MeanSum) share one discretized PLD and one self-composition; the
    * fold still composes them one by one in request order. */
  private def foldCompose(base: Double, abortIfInfAbove: Option[Double]): Option[PLD] = {
    val singles = mutable.HashMap.empty[(MechanismType, Double), PLD]
    val selfComposed = mutable.HashMap.empty[(MechanismType, Double, Int), PLD]
    var composed: PLD = null
    var infAcc = 0.0
    val it = requests.iterator
    while (it.hasNext) {
      val h = it.next()
      val family = pldFamily(h.mechanismType)
      val mechStd = h.sensitivity * base / h.weight
      val one = singles.getOrElseUpdate((family, mechStd), singlePld(h.mechanismType, mechStd))
      infAcc = 1 - (1 - infAcc) * math.pow(1 - one.infinityMass, h.count.toDouble)
      abortIfInfAbove match {
        case Some(d) if infAcc > d => return None
        case _ =>
      }
      val pld =
        if (h.count > 1)
          selfComposed.getOrElseUpdate((family, mechStd, h.count), one.selfCompose(h.count))
        else one
      composed = if (composed == null) pld else composed.compose(pld)
    }
    Option(composed)
  }

  /** Full composed PLD at a base noise std (reference:
    * budget_accounting.py:659-697 _compose_distributions). */
  def composeDistributions(base: Double): PLD =
    foldCompose(base, None).orNull

  /** Composed epsilon at a base noise std, with an early infinity-mass exit
    * so absurdly-small noise candidates skip the expensive convolutions. */
  private def epsilonForBase(base: Double, delta: Double): Double =
    foldCompose(base, Some(delta)) match {
      case None => Double.PositiveInfinity
      case Some(c) => c.epsilonForDelta(delta)
    }

  /** Binary search for the minimal base noise std satisfying the budget
    * (reference: budget_accounting.py:625-657). */
  private def findMinimumBaseNoiseStd(): Double = {
    val delta = totalDelta - thresholdingDelta
    val threshold = 1e-4
    // each base is evaluated once per search: the first bisection midpoint
    // hi / 2 is always a bracketing probe already tried
    val epsilonAt = mutable.HashMap.empty[Double, Double]
    def epsilon(base: Double): Double =
      epsilonAt.getOrElseUpdate(base, epsilonForBase(base, delta))
    var hi = {
      // Double against the REDUCED delta (total minus the thresholding
      // reservation): the binary search below verifies mids against it, so
      // the upper bracket must satisfy the same constraint or the search
      // could converge to an unverified hi that overspends the budget
      // whenever thresholding mechanisms reserve 25% of delta.
      var mx = 1.0
      while (epsilon(mx) > totalEpsilon) mx *= 2
      mx
    }
    var lo = 0.0
    while (lo + threshold < hi) {
      val mid = (hi - lo) / 2 + lo
      if (epsilon(mid) <= totalEpsilon) hi = mid else lo = mid
    }
    hi
  }
}
