package graft

import org.scalatest.funsuite.AnyFunSuite

/** Table-driven cases for the bench load flag — the instrument guarding the
  * official numbers must itself be regression-guarded. */
class BenchCanarySpec extends AnyFunSuite {

  private val cases: Seq[(String, Seq[Double], Boolean)] = Seq(
    ("all-flat",
      Seq(0.20, 0.20, 0.21, 0.19, 0.20, 0.20), false),
    ("empty / single sample never flag",
      Seq(0.20), false),
    ("uniform mid-session aging (~1.5x) is not load",
      Seq(0.20, 0.24, 0.28, 0.30, 0.30, 0.31), false),
    ("single spike is scheduling noise",
      Seq(0.20, 0.20, 0.55, 0.20, 0.21, 0.20), false),
    ("two consecutive spikes flag",
      Seq(0.20, 0.20, 0.55, 0.58, 0.21, 0.20), true),
    ("spikes separated by a calm sample do not flag",
      Seq(0.20, 0.55, 0.20, 0.55, 0.20, 0.20), false),
    ("episode at the very end flags",
      Seq(0.20, 0.20, 0.20, 0.20, 0.60, 0.62), true),
    ("sustained plateau over most of the run flags via the baseline guard",
      // median (~0.62) is inside the episode so the spike rule is blind,
      // but median > 1.8x the 0.20 clean-start baseline (median of first 3)
      Seq(0.20, 0.21, 0.20, 0.62, 0.63, 0.62, 0.63), true),
    ("doubling from sample 2 is absorbed into the first-3 baseline",
      // the baseline (median of first THREE) already sits at 0.40 here, so
      // this reads as a slow machine, not an episode — documented limit
      Seq(0.20, 0.40, 0.41, 0.40, 0.41, 0.40), false),
    ("round-6 official shape (2.15x plateau over a clean 3-sample start) flags",
      // the contaminated run the old 2.5x factor let through: baseline
      // 0.15, session median 0.32 -> 2.1x > 1.8x
      Seq(0.15, 0.15, 0.16, 0.33, 0.32, 0.34, 0.33), true),
    ("anomalously fast single cold sample does not flag a clean aged run",
      // the real 164-query clean-run shape that false-positived when the
      // baseline was samples.head alone: 0.154 cold start, ~0.39 median
      Seq(0.15, 0.39, 0.31, 0.33, 0.47, 0.32, 0.56, 0.50, 0.28, 0.43,
        0.30, 0.29, 0.42, 0.41, 0.35, 0.40, 0.31, 0.30, 0.36, 0.37,
        0.44, 0.43, 0.45, 0.46, 0.41, 0.12), false),
    // Documented limit: an episode starting before the third sample and
    // lasting the whole run is absorbed into the baseline — one cold sample
    // is not evidence of machine speed, so this is indistinguishable from a
    // slow machine and intentionally NOT flagged.
    ("whole-run episode from sample 2 is absorbed into the baseline",
      Seq(0.20, 0.62, 0.63, 0.61, 0.62, 0.63), false)
  )

  cases.foreach { case (name, samples, want) =>
    test(s"$name -> load_flag=$want") {
      assert(BenchCanary.loadFlag(samples) == want)
    }
  }

  test("sessionMedian is the upper median of the sorted samples") {
    assert(BenchCanary.sessionMedian(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(BenchCanary.sessionMedian(Seq(4.0, 1.0, 2.0, 3.0)) == 3.0)
    assert(BenchCanary.sessionMedian(Nil) == 0.0)
  }

  test("factors are tunable") {
    val s = Seq(0.20, 0.30, 0.31, 0.20, 0.20, 0.20)
    assert(!BenchCanary.loadFlag(s))
    assert(BenchCanary.loadFlag(s, spikeFactor = 1.2))
  }

  test("spreadSuspect: round-6 single-trial spike shapes flag") {
    // p32's official trials: 2.9s median, one 55s outlier
    assert(BenchCanary.spreadSuspect(Seq(2.9, 2.8, 55.3)))
    // p05's shape: most trials inflated, min clean (median-gated, not min)
    assert(BenchCanary.spreadSuspect(Seq(17.9, 16.2, 1.2)))
  }

  test("spreadSuspect: tight or fast trials do not flag") {
    // sub-half-second medians are scheduling jitter, any ratio
    assert(!BenchCanary.spreadSuspect(Seq(0.05, 0.30, 0.04)))
    // slow but tight
    assert(!BenchCanary.spreadSuspect(Seq(2.9, 2.8, 3.1)))
    // moderate dispersion under the 5x bound
    assert(!BenchCanary.spreadSuspect(Seq(1.0, 2.0, 4.0)))
    // fewer than two trials can never flag
    assert(!BenchCanary.spreadSuspect(Seq(9.0)))
    assert(!BenchCanary.spreadSuspect(Nil))
  }

  test("tailDrift: post-GC tail back at baseline is clean (round-7 quiet-run shape)") {
    // quiet round-7 run: pristine baseline 0.208, post-run tail 0.125 —
    // mid-run samples sat at ~2x from the bench's own residue, which is
    // exactly why the tail (not the mid-run median) carries the signal
    assert(!BenchCanary.tailDrift(0.208, Seq(0.125, 0.131)))
    // tail equal to baseline: clean
    assert(!BenchCanary.tailDrift(0.20, Seq(0.20, 0.21)))
  }

  test("tailDrift: tail still elevated after GC flags") {
    // external load persisting past the run's end, or a session leak
    assert(BenchCanary.tailDrift(0.20, Seq(0.45, 0.52)))
    // MIN of the tail pair decides: one scheduling blip does not flag...
    assert(!BenchCanary.tailDrift(0.20, Seq(0.55, 0.22)))
    // ...but both elevated does
    assert(BenchCanary.tailDrift(0.20, Seq(0.55, 0.31)))
  }

  test("tailDrift: degenerate inputs never flag") {
    assert(!BenchCanary.tailDrift(0.20, Nil))
    assert(!BenchCanary.tailDrift(0.0, Seq(0.9, 0.9)))
  }

  test("spreadSuspect: a clean retry can clear a flagged query") {
    val suspect = Vector(2.9, 2.8, 55.3)
    assert(BenchCanary.spreadSuspect(suspect))
    // retry lands near the true time -> median stays honest, still >5x
    // max/min: the flag PERSISTS (the artifact must carry it)
    assert(BenchCanary.spreadSuspect(suspect :+ 2.85))
    // but when the outlier was the only high sample and retries pile up
    // clean, a later re-cut with fresh trials clears naturally
    assert(!BenchCanary.spreadSuspect(Vector(2.9, 2.8, 2.85, 2.95)))
  }

  test("dispersion + load_suspect: the r12 forensic shapes self-adjudicate") {
    // p19's official r12 trials [1.82, 1.63, 0.45]: ratio 4.04 passed the
    // 5x spreadSuspect gate silently — dispersionSuspect must catch it
    assert(!BenchCanary.spreadSuspect(Seq(1.82, 1.63, 0.45)))
    assert(BenchCanary.dispersionSuspect(Seq(1.82, 1.63, 0.45)))
    assert(math.abs(BenchCanary.dispersionRatio(Seq(1.82, 1.63, 0.45)) - 4.044) < 0.01)
    // sub-jitter medians never flag (scheduling noise on fast queries)
    assert(!BenchCanary.dispersionSuspect(Seq(0.09, 0.31, 0.12)))
    // tight trials never flag
    assert(!BenchCanary.dispersionSuspect(Seq(1.0, 1.1, 1.2)))
    assert(BenchCanary.dispersionRatio(Nil) == 0.0)
    assert(BenchCanary.dispersionRatio(Seq(0.0, 1.0)) == 0.0)
    // the r12 forensic shape pins the RULE against the r11-era band: the
    // r12 official cut (canary median 0.389 vs the r11 clean 0.343 band,
    // +13%) must stamp load_suspect; the r11 clean cut itself and small
    // drifts must not. (The committed default band was re-baselined to
    // 0.391 in round 14 after the suite-composition change — the rule is
    // exercised against the historical band explicitly.)
    assert(BenchCanary.loadSuspect(0.389, band = 0.343))
    assert(!BenchCanary.loadSuspect(0.343, band = 0.343))
    assert(!BenchCanary.loadSuspect(0.370, band = 0.343))
    // the round-14 band, pinned explicitly (re-baselined to 0.470 in
    // round 16 for the new container+suite — same rule, new level)
    assert(!BenchCanary.loadSuspect(0.391, band = 0.391))
    assert(BenchCanary.loadSuspect(0.45, band = 0.391))
    assert(!BenchCanary.loadSuspect(0.5, band = 0.0)) // no band -> no verdict
    // round 17: the suspect stamp is relative to the session's own
    // baseline (capped at the quiet ceiling) — r16 cut D's shape is clean,
    // the same median over a much faster pristine baseline is suspect
    assert(!BenchCanary.loadSuspectRel(0.434, pristineBaseline = 0.180))
    assert(BenchCanary.loadSuspectRel(0.434, pristineBaseline = 0.100))
    // an inflated (not-quiet) baseline cannot loosen the threshold past
    // the ceiling: 1.10 * 3.55 * 0.30 = 1.1715 — 1.5 sits clearly past it
    // (r17 ADVICE #5: the old 1.2 input passed the capped ceiling by only
    // 2% once relFactor moved to 3.55)
    assert(BenchCanary.loadSuspectRel(1.5, pristineBaseline = 0.554))
  }

  test("r18 admission: every documented quiet cut is tail-quiet and admitted") {
    // (baseline, median, tail) from the committed artifacts / BENCH_NOTES —
    // the binding signal is the post-GC tail returning to at-or-under the
    // session's pristine baseline (r17 VERDICT #3: the r17 relative gate's
    // numerator grew with suite size and its denominator varied 2.3x across
    // quiet sessions, ratcheting relFactor 3.05->3.55 in its first live
    // session; the tail is suite-size-independent)
    val quiet = Seq(
      ("r16 cut D (committed)", 0.180022988, 0.434087498, Seq(0.092504387, 0.054041968)),
      ("r16 cut F", 0.151408218, 0.460039, Seq(0.096282516, 0.087271046)),
      ("r16 cut G", 0.199347061, 0.454292656, Seq(0.151719754, 0.097808478)),
      ("r17 cut B (quiet-audited on refusal, BENCH_NOTES r17)",
        0.149263015, 0.52933675, Seq(0.159507912, 0.103944566)),
      // r17 cut D: the cut the r17 gate refused at ratio 4.06 over the
      // fastest-ever 0.125 pristine baseline and that shipped WITHOUT its
      // audit (r17 VERDICT #2). Adjudicated quiet in BENCH_NOTES r18:
      // tail min 0.1047 = 0.84x its baseline (residue-free), load_flag
      // false, zero errors/spread flags — the refusal was the unstable
      // denominator, which is exactly why the r18 gate binds on the tail.
      ("r17 cut D (adjudicated quiet, BENCH_NOTES r18)",
        0.124736453, 0.506287546, Seq(0.260671818, 0.104743659)),
      ("r17 driver unofficial run", 0.247551727, 0.447657823, Seq(0.153720543, 0.10752511)),
      // r18 cut A: the new gate's first live admission — ratio 3.65 would
      // have been REFUSED by the retired r17 relative gate (3.55); the
      // tail (0.109 = 0.84x baseline) admitted it, and it committed as
      // the official record at full 384 coverage (bench_r18_cutA.json)
      ("r18 cut A (superseded record)", 0.129848071, 0.47411271,
        Seq(0.149300984, 0.109411869)),
      // r18 cut C: the committed full-402-coverage record; ratio 4.09 —
      // the second quiet cut in one round the retired relative gate would
      // have refused (bench_r18_cutC.json)
      ("r18 cut C (committed record)", 0.127031397, 0.519745145,
        Seq(0.130000176, 0.096140621)))
    quiet.foreach { case (name, base, med, tail) =>
      assert(BenchCanary.tailQuiet(base, tail), s"$name must be tail-quiet")
      assert(BenchCanary.cutAdmitted(med, base, tail, nErrors = 0),
        s"$name must be admitted")
    }
  }

  test("r18 admission: unquiet starts, residue, errors, and gross medians refuse") {
    val cleanTail = Seq(0.15, 0.10)
    // r17 cut A: baseline 0.844 (launched 1 min after a 33-min suite run) —
    // refused by the quiet ceiling regardless of its tail
    assert(!BenchCanary.cutAdmitted(0.527, 0.843983923, Seq(0.155, 0.081), 0))
    // tail still elevated after GC: residue/load present -> refused
    assert(!BenchCanary.tailQuiet(0.180, Seq(0.30, 0.22)))
    assert(!BenchCanary.cutAdmitted(0.434, 0.180, Seq(0.30, 0.22), 0))
    // tail min AT the baseline is the boundary and admits (definitional 1.0x)
    assert(BenchCanary.tailQuiet(0.180, Seq(0.30, 0.180)))
    // any errored gate query refuses (r17 ADVICE #1)
    assert(!BenchCanary.cutAdmitted(0.434, 0.180, cleanTail, nErrors = 1))
    // gross-contamination backstop: a >1.0s median refuses even tail-quiet
    assert(!BenchCanary.cutAdmitted(1.2, 0.180, cleanTail, 0))
    // degenerate inputs never admit
    assert(!BenchCanary.cutAdmitted(0.30, 0.0, cleanTail, 0))
    assert(!BenchCanary.tailQuiet(0.20, Nil))
    assert(!BenchCanary.tailQuiet(0.0, cleanTail))
  }

  test("legacy relative gate still reports (canary_gate field / loadSuspectRel)") {
    // r16 cut A's JIT-cold 0.554 baseline: no gate value
    assert(BenchCanary.admissionGate(0.554).isEmpty)
    assert(!BenchCanary.canaryAdmitted(0.404, 0.554))
    // a median far past 3.55x baseline still reads as not-canary-admitted
    // (feeds the report-only load_suspect stamp, NOT admission)
    assert(!BenchCanary.canaryAdmitted(0.80, 0.180))
    assert(BenchCanary.admissionGate(-1.0).isEmpty)
    // the gate value itself is the documented product
    assert(math.abs(BenchCanary.admissionGate(0.200).get - 0.710) < 1e-9)
  }

  test("recordSupersedes: full coverage first, lowest canary as tiebreak") {
    // the r16 failure shape: cut D (360 queries, canary 0.434) held the
    // record over full-coverage F (366, 0.460) and G (366, 0.454) — under
    // the rule, F supersedes D despite being hotter...
    assert(BenchCanary.recordSupersedes(366, 0.460, 360, 0.434))
    // ...then G supersedes F at equal coverage by being cooler...
    assert(BenchCanary.recordSupersedes(366, 0.454, 366, 0.460))
    // ...and D could never displace either
    assert(!BenchCanary.recordSupersedes(360, 0.434, 366, 0.454))
    // equal coverage, hotter: kept out
    assert(!BenchCanary.recordSupersedes(366, 0.470, 366, 0.454))
    // exact tie does not churn the record
    assert(!BenchCanary.recordSupersedes(366, 0.454, 366, 0.454))
  }

  test("cleanTrials: r11 load-episode shapes yield a clean median basis") {
    // p80's official r11 shape: one 20.6s episode against a 2.66s floor —
    // the clean subset is exactly the non-episode trials
    assert(BenchCanary.cleanTrials(Seq(2.66, 2.9, 20.6)) == Seq(2.66, 2.9))
    // p77's 45.9s outlier vs 2.9–4.6s siblings: siblings within 2.5x stay
    assert(BenchCanary.cleanTrials(Seq(2.9, 4.6, 45.9, 3.1)) == Seq(2.9, 4.6, 3.1))
    // a tight set passes through untouched
    assert(BenchCanary.cleanTrials(Seq(1.0, 1.1, 1.2)) == Seq(1.0, 1.1, 1.2))
    // degenerate inputs
    assert(BenchCanary.cleanTrials(Nil) == Nil)
    // a genuinely bimodal query (every trial >2.5x the min) cannot
    // assemble 3 clean trials -> Bench keeps the flag
    assert(BenchCanary.cleanTrials(Seq(1.0, 3.0, 3.2, 3.1)).size < 3)
  }

  test("binding comparator ruling is pinned (r19, closes r17 #4 / r18 #6)") {
    // The STANDING ruling for cuts whose measurement windows priced
    // differently lives in BENCH_NOTES.md ("Binding comparator ruling");
    // this pin keeps the prose from drifting or being dropped in a rewrite:
    //   (1) cross-cut suite deltas: per-query MIN over common queries,
    //       section totals canary-normalized;
    //   (2) the BASELINE q01 anchor: judged on the ADMITTED cut's q01 min.
    // whitespace-collapsed, so re-wrapping the prose does not break the pin
    val notes = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_NOTES.md")), "UTF-8").replaceAll("\\s+", " ")
    assert(notes.contains("## Binding comparator ruling for container-priced windows"),
      "BENCH_NOTES.md lost the standing comparator-ruling section")
    assert(notes.contains("per-query MIN basis over the queries common to both cuts"),
      "ruling clause (1) — min basis over common queries — missing")
    assert(notes.contains("judged on the ADMITTED cut's q01 min"),
      "ruling clause (2) — anchor judged on the admitted cut's min — missing")
    // and the ruling's canonical application: the committed r18 record
    // (bench_full.json, official=true) carries a q01 min within the 2x
    // anchor band, so the closed q01 thread stays closed
    val q01Min = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("bench_full.json"))
      .path("queries").path("q01_group_agg").path("min")
    assert(q01Min.isNumber, "bench_full.json lost its q01 row")
    assert(q01Min.asDouble <= 0.50,
      s"admitted-cut q01 min $q01Min crossed the 2x anchor band (0.50 s)")
  }
}
