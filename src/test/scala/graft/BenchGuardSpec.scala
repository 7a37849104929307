package graft

import org.scalatest.funsuite.AnyFunSuite

/** Direct spec of the burst-suspect predicate (no Spark needed). The
  * round-6 audit found the exact scenario `replayed r06 schedule` encodes:
  * a uniform burst over both runs, behind a calm pre-probe, escaped
  * revalidation and bound the artifact at 36x/59x calm time.
  */
class BenchGuardSpec extends AnyFunSuite {

  test("calm, stable runs are not suspect") {
    assert(!BenchGuard.suspect(Seq(1.60, 1.71), gateTripped = false,
      postProbeHot = false, reported = 1.60))
  }

  test("gate trip marks suspect even when runs agree") {
    assert(BenchGuard.suspect(Seq(2.0, 2.1), gateTripped = true,
      postProbeHot = false, reported = 2.0))
  }

  test("unstable runs (>1.5x disagreement) are suspect") {
    assert(BenchGuard.suspect(Seq(1.0, 1.6), gateTripped = false,
      postProbeHot = false, reported = 1.0))
    assert(!BenchGuard.suspect(Seq(1.0, 1.49), gateTripped = false,
      postProbeHot = false, reported = 1.0))
  }

  test("replayed r06 schedule: uniform burst, calm pre-probe => post-probe catches it") {
    // BENCH_r06 q_dedup_clusters: runs [70.9, 80.9] (ratio 1.14 < 1.5),
    // pre-probe calm (0.886 vs ~0.2 ref did not confirm), gate untripped.
    // Old criterion (gate || unstable) misses it; a burst spanning both
    // runs is still live for the probe placed right after them.
    val oldCriterion = {
      val ok = Seq(70.9, 80.9)
      false /* gate */ || ok.max > 1.5 * ok.min
    }
    assert(!oldCriterion, "r06 criterion must miss this shape (the hole)")
    assert(BenchGuard.suspect(Seq(70.9, 80.9), gateTripped = false,
      postProbeHot = true, reported = 70.9))
    // q_knn_ivfpq: [133.0, 188.3] trips instability (1.42 < 1.5 — no),
    // so it too relies on the post-probe.
    assert(BenchGuard.suspect(Seq(133.0, 188.3), gateTripped = false,
      postProbeHot = true, reported = 133.0))
  }

  test("plausibility tripwire: reported >3x session best is suspect") {
    // Bookkeeping guard, not a burst defense: Bench reports min-of-runs,
    // under which this cannot fire — it protects against a future change
    // to the reported statistic contradicting the query's own history.
    assert(BenchGuard.suspect(Seq(70.9, 80.9, 1.97), gateTripped = false,
      postProbeHot = false, reported = 70.9))
    assert(!BenchGuard.suspect(Seq(2.0, 2.2, 1.97), gateTripped = false,
      postProbeHot = false, reported = 2.0))
  }

  test("failed runs are ignored by ratio checks; failed queries never suspect") {
    assert(!BenchGuard.suspect(Seq(-1.0, 2.0), gateTripped = false,
      postProbeHot = false, reported = 2.0))
    assert(!BenchGuard.suspect(Seq(-1.0, -1.0), gateTripped = true,
      postProbeHot = true, reported = -1.0))
  }

  // ---- cross-round regression gate ----------------------------------------

  test("regression gate: an intentionally-slowed query trips it") {
    // recorded best 2.0s, a plan change makes it 4.0s: 2.0x > 1.5x ratio
    // and 2.0s > 0.4s delta — the gate must fire (this is the exact shape
    // the gate exists for: one bad rewrite hiding in a 100-entry headline)
    assert(BenchGuard.regression(best = 2.0, reported = 4.0, burstEvidence = false))
    // just over the ratio with a real absolute delta also fires
    assert(BenchGuard.regression(best = 2.0, reported = 3.5, burstEvidence = false))
  }

  test("regression gate: within-ratio, sub-delta, and unrecorded queries pass") {
    // within the 1.5x ratio: normal round-to-round noise
    assert(!BenchGuard.regression(best = 2.0, reported = 2.9, burstEvidence = false))
    // ratio exceeded but absolute delta under 0.4s: the sub-second tail
    // lives in a documented ±20-50% host-noise band — no gate
    assert(!BenchGuard.regression(best = 0.15, reported = 0.40, burstEvidence = false))
    // no recorded best (new query) => no gate
    assert(!BenchGuard.regression(best = -1.0, reported = 10.0, burstEvidence = false))
    assert(!BenchGuard.regression(best = 0.0, reported = 10.0, burstEvidence = false))
  }

  test("regression gate: abstains on burst evidence and on failed runs") {
    // a 5x blowup measured with a tripped gate or hot post-probe is host
    // noise until proven otherwise — exit-nonzero on it would fail rounds
    // on the build host's own background load
    assert(!BenchGuard.regression(best = 2.0, reported = 10.0, burstEvidence = true))
    // failed runs report through `failed`, not as regressions
    assert(!BenchGuard.regression(best = 2.0, reported = -1.0, burstEvidence = false))
  }

  // ---- steady-state (warming) extension ------------------------------------

  test("stillWarming: the r14 q_pipeline_e2e JIT curve keeps extending") {
    // observed live: [5.97, 3.18, 1.79, 1.66] in one JVM — min-of-2 would
    // report 3.18 (a 2.3x artifact) against a ~1.6s steady state
    assert(BenchGuard.stillWarming(Seq(5.97, 3.18)))
    assert(BenchGuard.stillWarming(Seq(5.97, 3.18, 1.79)))
    // 1.66 improves 1.79 by only 7% — converged, stop
    assert(!BenchGuard.stillWarming(Seq(5.97, 3.18, 1.79, 1.66)))
  }

  test("stillWarming: stable and jittery-sub-second queries never extend") {
    // stable: the latest run is not the best
    assert(!BenchGuard.stillWarming(Seq(1.60, 1.71)))
    assert(!BenchGuard.stillWarming(Seq(2.0, 1.95)))   // <10% improvement
    // sub-second tail: 17% jitter but under the 0.15s absolute floor
    assert(!BenchGuard.stillWarming(Seq(0.30, 0.25)))
    // failed runs are ignored; a single run is never "warming"
    assert(!BenchGuard.stillWarming(Seq(-1.0, 2.0)))
    assert(!BenchGuard.stillWarming(Seq(2.0)))
  }

  test("warming-explained instability is not suspect; burst shapes still are") {
    // first run slowest, later runs settled near the min: pure JIT spread,
    // the min is already a settled value — no revalidation needed
    assert(!BenchGuard.suspect(Seq(8.0, 2.0, 1.9), gateTripped = false,
      postProbeHot = false, reported = 1.9))
    // a burst landing mid-measure makes a LATER run the max — still suspect
    assert(BenchGuard.suspect(Seq(2.0, 8.0, 2.1), gateTripped = false,
      postProbeHot = false, reported = 2.0))
    // latest run NOT settled (still 1.5x the min): can't call it warming
    assert(BenchGuard.suspect(Seq(8.0, 2.0, 3.0), gateTripped = false,
      postProbeHot = false, reported = 2.0))
    // only two runs: not enough evidence of settling — stays suspect
    assert(BenchGuard.suspect(Seq(8.0, 2.0), gateTripped = false,
      postProbeHot = false, reported = 2.0))
    // warming explanation never overrides gate/post-probe evidence
    assert(BenchGuard.suspect(Seq(8.0, 2.0, 1.9), gateTripped = true,
      postProbeHot = false, reported = 1.9))
    assert(BenchGuard.suspect(Seq(8.0, 2.0, 1.9), gateTripped = false,
      postProbeHot = true, reported = 1.9))
  }

  test("second-chance criterion: burst-excluded would-be regressions re-measure") {
    // a burst-tainted 3x-over-best reading: the abstaining gate passes it,
    // but regression() judged WITHOUT the evidence says it would have
    // flagged — exactly the re-measurement trigger Bench uses. (Round-13's
    // q_mix_sources at 0.59 vs best 0.19 sat a hair UNDER the 0.4s
    // absolute-delta floor, so it would not even need the second chance;
    // use a shape that clearly crosses both thresholds.)
    val best = 1.0; val reported = 3.0
    assert(!BenchGuard.regression(best, reported, burstEvidence = true))
    assert(BenchGuard.regression(best, reported, burstEvidence = false))
  }

  test("confirmed regression: a one-off slow measurement does not flip rc") {
    // round-15 contract: a candidate lands in `regr` only if it SURVIVES
    // isolated calm re-measurement. The synthetic round-14 shape — main
    // pass reports 3.19s vs best 1.73s, the isolated re-run measures the
    // calm 1.8s — must NOT be a regression.
    assert(!BenchGuard.confirmedRegression(1.73, 3.19, Seq(1.8),
      lastEvidence = false))
    // a REAL regression reproduces: three calm re-runs all slow
    assert(BenchGuard.confirmedRegression(1.73, 3.19, Seq(3.1, 3.2, 3.0),
      lastEvidence = false))
    // the confirming run itself carries burst evidence: the gate abstains
    // (that run's value is untrustworthy in either direction)
    assert(!BenchGuard.confirmedRegression(1.73, 3.19, Seq(3.1),
      lastEvidence = true))
    // failed confirm runs contribute nothing; the main value still decides
    assert(BenchGuard.confirmedRegression(1.73, 3.19, Seq(-1.0),
      lastEvidence = false))
    // zero confirm runs (cooldown budget gone): judged on the main value
    // with the main run's own evidence, exactly like the old gate
    assert(BenchGuard.confirmedRegression(1.73, 3.19, Nil,
      lastEvidence = false))
    assert(!BenchGuard.confirmedRegression(1.73, 3.19, Nil,
      lastEvidence = true))
  }

  test("a subset run never overwrites the full-suite per-query record") {
    assert(Bench.lastRecordName("sf0.1", fullHeadline = true) == "bench_last.sf0.1.json")
    assert(Bench.lastRecordName("sf0.1", fullHeadline = false) == "bench_last.sf0.1.subset.json")
  }
}
