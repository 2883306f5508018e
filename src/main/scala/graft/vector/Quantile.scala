package graft.vector

/** Streaming quantile estimation + adaptive beam termination for the graph
  * search family — the reference's P² machinery (knn/quantile.h:24-166:
  * the published Jain & Chlamtac 1985 P² algorithm, 5 markers, no sample
  * storage; knn/termination.h:23-52 + termination.cpp: a MOVING quantile
  * of the beam's candidate-discovery rate decides when further expansion
  * has stopped paying).
  *
  * The estimators are tiny mutable driver/executor-local state machines —
  * one per in-flight beam walk, never shared.
  */
object Quantile {

  /** The published P² estimator: 5 markers track (min, q/2, q, (1+q)/2,
    * max); each insert adjusts marker heights with the parabolic formula
    * (linear fallback). O(1) memory, no samples kept. */
  final class P2(val q: Double) {
    require(q > 0 && q < 1, s"quantile must be in (0,1): $q")
    private val qs = new Array[Double](5) // marker heights
    private val n = new Array[Double](5) // actual positions (1-based)
    private val np = new Array[Double](5) // desired positions
    private val dn = Array(0.0, q / 2, q, (1 + q) / 2, 1.0)
    private val init = new Array[Double](5)
    private var count = 0

    def reset(): Unit = {
      java.util.Arrays.fill(qs, 0.0)
      java.util.Arrays.fill(n, 0.0)
      java.util.Arrays.fill(np, 0.0)
      java.util.Arrays.fill(init, 0.0)
      count = 0
    }

    def insert(x: Double): Unit = {
      count += 1
      if (count <= 5) {
        init(count - 1) = x
        if (count == 5) {
          java.util.Arrays.sort(init)
          Array.copy(init, 0, qs, 0, 5)
          var i = 0
          while (i < 5) { n(i) = i + 1.0; i += 1 }
          np(0) = 1; np(1) = 1 + 2 * q; np(2) = 1 + 4 * q
          np(3) = 3 + 2 * q; np(4) = 5
        }
        return
      }
      // locate the cell (clamping the extreme markers)
      var k = 0
      if (x < qs(0)) { qs(0) = x; k = 0 }
      else if (x >= qs(4)) { qs(4) = x; k = 3 }
      else {
        k = 0
        while (!(qs(k) <= x && x < qs(k + 1))) k += 1
      }
      var i = k + 1
      while (i < 5) { n(i) += 1; i += 1 }
      i = 0
      while (i < 5) { np(i) += dn(i); i += 1 }
      // adjust interior markers
      i = 1
      while (i <= 3) {
        val d = np(i) - n(i)
        if ((d >= 1 && n(i + 1) - n(i) > 1) ||
            (d <= -1 && n(i - 1) - n(i) < -1)) {
          val s = math.signum(d)
          // parabolic prediction (P² formula)
          val cand = qs(i) + s / (n(i + 1) - n(i - 1)) * (
            (n(i) - n(i - 1) + s) * (qs(i + 1) - qs(i)) / (n(i + 1) - n(i)) +
              (n(i + 1) - n(i) - s) * (qs(i) - qs(i - 1)) / (n(i) - n(i - 1)))
          qs(i) =
            if (qs(i - 1) < cand && cand < qs(i + 1)) cand
            else { // linear fallback
              val j = i + s.toInt
              qs(i) + s * (qs(j) - qs(i)) / (n(j) - n(i))
            }
          n(i) += s
        }
        i += 1
      }
    }

    def ready: Boolean = count >= 5
    /** Current estimate of the q-quantile (the middle marker). */
    def get: Double =
      if (count >= 5) qs(2)
      else if (count == 0) 0.0
      else {
        val c = java.util.Arrays.copyOf(init, count)
        java.util.Arrays.sort(c)
        c(math.min(count - 1, (q * count).toInt))
      }
  }

  /** Moving-window P² (the reference's MP2 shape, quantile.h
    * MP2QuantileEstimator_c): ONE estimator, reset at every window
    * boundary after saving its estimate; [[get]] blends the previous
    * window's saved estimate with the currently-filling window, weighted
    * by the fill fraction — so the estimate tracks the RECENT
    * distribution, decaying the old window out linearly as the new one
    * fills. */
  final class MovingP2(window: Int, q: Double) {
    require(window >= 10, s"window too small: $window")
    private val est = new P2(q)
    private var count = 0L
    private var inWindow = 0
    private var prevEstimate = 0.0
    def insert(x: Double): Unit = {
      est.insert(x)
      count += 1
      inWindow += 1
      if (inWindow == window) {
        prevEstimate = est.get
        est.reset()
        inWindow = 0
      }
    }
    def ready: Boolean = count >= 5
    def get: Double = {
      if (count == 0) 0.0
      else if (count < window) est.get
      else if (inWindow == 0) prevEstimate // exactly at a boundary
      else {
        val w2 = inWindow.toDouble / window
        (1.0 - w2) * prevEstimate + w2 * est.get
      }
    }
  }

  /** Adaptive beam termination (termination.h/.cpp semantics): per
    * expansion round, the DISCOVERY RATE (new result-heap entries per
    * scored distance) is compared against a moving P² quantile of its own
    * history; `patience` consecutive below-quantile rounds end the walk.
    * Warm-up rounds (result heap still filling) only reset the counters.
    * Default threshold quantile 0.2 (L2 flavor 0.14), window 128 — the
    * reference's constants. */
  final class Termination(thresholdQuantile: Double = 0.2) {
    private val est = new MovingP2(128, thresholdQuantile)
    private var collected = 0
    private var prevCollected = 0
    private var scored = 0
    private var badRounds = 0
    private var patience = patienceOf(10)

    private def patienceOf(ef: Int): Int =
      if (ef <= 800) 9 else if (ef <= 2000) 8 else if (ef <= 4000) 7 else 6

    def onDistanceScored(): Unit = scored += 1
    def onCandidateCollected(): Unit = collected += 1

    def shouldTerminate(ef: Int, currentSize: Int): Boolean = {
      if (currentSize < ef) {
        prevCollected = collected
        scored = 0
        badRounds = 0
        patience = patienceOf(ef)
        return false
      }
      val rate = (collected - prevCollected).toDouble / (1e-9 + scored)
      val bad = est.ready && rate < est.get
      badRounds = if (bad) badRounds + 1 else 0
      est.insert(rate)
      prevCollected = collected
      scored = 0
      badRounds >= patience
    }
  }

  /** The reference's L2-tuned threshold (termination.h:50-52). */
  val L2ThresholdQuantile: Double = 0.14
}
