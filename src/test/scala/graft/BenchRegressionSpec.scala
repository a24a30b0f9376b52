package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-round bench gate, environment-proof (VERDICT r12 "what's
  * wrong" #1): the round-11 version compared scalar-calib-normalized
  * wall alone and fired on the DRIVER'S OWN GREEN RUN — six queries
  * 2-6x their snapshot while the scalar CPU calib read 1.01. A
  * post-mortem against a quiet re-run of the identical code showed
  * WHY no single-number calibration could have saved it: the driver
  * host's contention was BURSTY, not uniform (median wall ratio over
  * 193 shared queries was 0.95 — the host was quiet on average — yet
  * six queries ran 2-6x), and the bursts inflated process-CPU right
  * along with wall (dedup_minhash_lsh: wall 3.2x AND cpu 5.5x on
  * byte-identical code — 32 threads of memory-bandwidth stalls bill
  * as CPU), so CPU corroboration cannot discriminate contention from
  * regression either.
  *
  * What actually survives that post-mortem:
  *
  *  - MEASUREMENT, not inference: Bench now times median-of-3 (a
  *    burst must span 2 of 3 passes to poison the median, where
  *    best-of-2 needed every pass) and normalizes by the worse of a
  *    scalar AND a 16-thread parallel probe (the latter sees
  *    scheduler/bandwidth contention the spin can't). Per-query
  *    verdicts are issued ONLY for artifacts produced by that
  *    measurement (`"timing":"median-of-3"`); the r12 artifact is
  *    the existence proof that best-of-2 per-query numbers cannot
  *    support a verdict, so old-format artifacts get the aggregate
  *    check only.
  *  - AGGREGATE backstop for every format: total normalized wall over
  *    shared queries > 1.4x snapshot total fires. Bursty contention
  *    is sparse (6/193 queries, total ratio 1.2x) and cancels in the
  *    total; a real broad regression or a wait-class regression
  *    (sleeps, lock convoys, spill) does not.
  *  - Per-query rule (trusted artifacts): normalized wall > 2.5x
  *    snapshot (above a 0.5 s floor) AND cpu > 2x (above 0.3 s) —
  *    cpu agreement is required not because it discriminates
  *    contention (it doesn't) but because a wall-only spike with
  *    FLAT cpu is provably scheduler delay, never code.
  *
  * The decision function is pure and tested three ways below: against
  * the live BENCH_local.json, against the committed round-12 driver
  * artifact (must NOT fire — the false positive that motivated this),
  * and against seeded synthetic regressions (must fire — teeth).
  *
  * The live test is a no-op when BENCH_local.json is absent (fresh
  * clone): it gates bench RUNS, not builds. After an intentional perf
  * change, refresh the snapshot from a quiet-host run
  * (scripts/bench_snapshot.json carries queries_norm AND
  * queries_cpu_sec).
  *
  * Every timing here and in the bench is one [[Measure.run]]: the full
  * result written to the noop sink (`"action":"noop"` in the
  * artifact), not a `count()` that Catalyst prunes to a scan. The two
  * historical fixtures (r12, r15) and the r14-era snapshot predate
  * that and timed `count()`; the r15 test re-measures the fixture's
  * flags and their sentinels with the noop action, so the
  * sentinel-scaled 2x re-measure rule also absorbs the change of
  * action.
  */
class BenchRegressionSpec extends AnyFunSuite {

  import Measure.numMap

  /** The gate itself — pure so the fixture/teeth tests below exercise
    * the exact production decision, not a re-implementation.
    * `perQueryTrusted` = the artifact came from the median-of-3 +
    * dual-probe measurement (see class doc). */
  private def regressions(
      nowNorm: Map[String, Double], nowCpu: Map[String, Double],
      snapNorm: Map[String, Double], snapCpu: Map[String, Double],
      perQueryTrusted: Boolean): Seq[String] = {
    val wallFloor = 0.5 // seconds: sub-floor times are scheduler noise
    val cpuFloor = 0.3
    val perQuery = if (!perQueryTrusted) Nil
    else nowNorm.toSeq.sortBy(_._1).flatMap { case (q, t) =>
      (snapNorm.get(q), snapCpu.get(q), nowCpu.get(q)) match {
        case (Some(s), Some(sc), Some(c))
            if t > math.max(2.5 * s, wallFloor) &&
               c > math.max(2.0 * sc, cpuFloor) =>
          Some(f"$q: norm $t%.2f s vs $s%.2f s (${t / math.max(s, 1e-9)}%.1fx), cpu $c%.2f s vs $sc%.2f s (${c / math.max(sc, 1e-9)}%.1fx)")
        // snapshot predates cpu tracking for this query: wall-only
        case (Some(s), None, _) if t > math.max(2.5 * s, wallFloor) =>
          Some(f"$q: norm $t%.2f s vs snapshot $s%.2f s (no cpu baseline)")
        case _ => None
      }
    }
    val shared = nowNorm.keySet intersect snapNorm.keySet
    val nowTot = shared.toSeq.map(nowNorm).sum
    val snapTot = shared.toSeq.map(snapNorm).sum
    val aggregate =
      if (shared.nonEmpty && nowTot > 1.4 * snapTot)
        Seq(f"AGGREGATE: total norm wall $nowTot%.1f s vs snapshot $snapTot%.1f s over ${shared.size} shared queries — broad regression (bursty host contention measured ~1.2x on the r12 false positive, a real one doesn't cancel)")
      else Nil
    perQuery ++ aggregate
  }

  /** norm/cpu = the local[32] bench baselines the pure gate compares
    * against; rm8 = the AGGREGATE flag's re-measure baseline — the
    * same sampled queries measured by Bench.minOf3Norm in the
    * remeasure environment class at snapshot time (tools.Rm8Baseline),
    * so a live sampled sum is commensurable with it. */
  private case class Snap(norm: Map[String, Double], cpu: Map[String, Double],
                          rm8: Map[String, Double])

  private def gate(artifactJson: String, snap: Snap): Seq[String] =
    regressions(
      numMap(artifactJson, "queries_norm"),
      numMap(artifactJson, "queries_cpu_sec"),
      snap.norm, snap.cpu,
      perQueryTrusted = artifactJson.contains("\"timing\":\"median-of-3\""))

  private def snapshotFrom(path: String): Snap = {
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    def opt(field: String) =
      if (json.contains("\"" + field + "\"")) numMap(json, field) else Map.empty[String, Double]
    Snap(numMap(json, "queries_norm"), opt("queries_cpu_sec"), opt("queries_rm8"))
  }

  private def snapshot(): Snap = snapshotFrom("scripts/bench_snapshot.json")

  /** The r14-era snapshot the two driver-artifact FIXTURES compare
    * against: a historical artifact is only meaningful against its
    * CONTEMPORARY baseline — after a genuinely-faster snapshot lands,
    * old runs trip the aggregate threshold for the boring reason that
    * the code got faster since. */
  private def eraSnapshot(): Snap = snapshotFrom("scripts/bench_snapshot_r14.json")

  // ---- live re-measurement (the round-15 fix) --------------------------
  //
  // The r15 driver artifact proved the per-query rule's last inference
  // step wrong too: SUSTAINED host contention inflates a sparse set of
  // queries in wall AND cpu across all three median passes (median
  // ratio over 200 shared queries was 1.02 while six queries read
  // 2.5-6x), so no property OF THE ARTIFACT can separate those six
  // from a real regression. What can is measurement: re-run the
  // flagged query here and now, min-of-3, calib-normalized — a real
  // regression reproduces on any host, a contention ghost does not.
  // Zero cost when nothing is flagged (the steady state).

  // one measurement per query per suite run: flagged queries share
  // sentinels (same family), the AGGREGATE sample overlaps both, and
  // the r15 fixture re-measures six — without the memo that is ~24
  // extra min-of-3 runs per `sbt test`
  private val measured =
    scala.collection.mutable.Map.empty[(String, String), Option[(Double, Double)]]

  private def measure(q: String, sfDir: String): Option[(Double, Double)] =
    measured.getOrElseUpdate((q, sfDir),
      Bench.minOf3Norm(Bench.remeasureSession(), q, sfDir))

  /** Sentinels for environment self-calibration: the 3 UNflagged
    * queries of the same family (e2e_stream_* / e2e_* / global)
    * closest in snapshot cost. The re-measure session is NOT the
    * bench's (local[8] vs local[32], possibly an inherited test
    * session) — some demo classes run 3-5x slower in it for reasons
    * that have nothing to do with either the artifact or the code, so
    * thresholds scale by what the same environment does to the
    * flagged query's own peers. */
  private def sentinelsFor(q: String,
                           snapNorm: Map[String, Double]): Seq[String] = {
    val fam =
      if (q.startsWith("e2e_stream_")) "e2e_stream_"
      else if (q.startsWith("e2e_")) "e2e_"
      else ""
    val ref = snapNorm.getOrElse(q, 0.0)
    val cands = snapNorm.keys.filter(k => k != q && k.startsWith(fam)).toSeq
    (if (cands.size >= 3) cands else snapNorm.keys.filterNot(_ == q).toSeq)
      .sortBy(k => (math.abs(snapNorm(k) - ref), k)).take(3)
  }

  /** The AGGREGATE flag's decision on MEASURED data, pure so the teeth
    * test exercises it directly: the live sampled sum reproduces a
    * broad regression iff it exceeds 1.4x the rm8 baseline sum over
    * the shared sample (the same multiplier as the pure gate — both
    * sums are min-of-3 calib-normalized from the same measurement
    * definition, Bench.minOf3Norm). Requires >= 8 commensurable
    * queries: below that the sample can't support an aggregate
    * verdict and the caller must KEEP the artifact's flag. None =
    * cannot adjudicate (keep flag); Some(b) = measured verdict. */
  private def aggregateReproduces(live: Map[String, Double],
                                  rm8: Map[String, Double]): Option[Boolean] = {
    val shared = (live.keySet intersect rm8.keySet).toSeq.sorted
    if (shared.size < 8) return None
    val liveSum = shared.map(live).sum
    val baseSum = shared.map(rm8).sum
    System.err.println(f"[bench-gate] AGGREGATE re-measured ${shared.size} " +
      f"sampled queries: live sum $liveSum%.1f s vs rm8 baseline $baseSum%.1f s " +
      f"(${liveSum / math.max(baseSum, 1e-9)}%.2fx, threshold 1.4x)")
    Some(liveSum > 1.4 * baseSum)
  }

  /** Live wiring of [[aggregateReproduces]]: re-measure the snapshot's
    * rm8 sample (memoized — the per-query flags' own measurements and
    * sentinels overlap it heavily) and decide from sums. A sampled
    * query that ERRORS keeps the flag loudly, same rule as the
    * per-query path. */
  private def aggregateConfirmsLive(sfDir: String, snap: Snap): Boolean = {
    if (snap.rm8.isEmpty) return true // no baseline: cannot clear, keep the flag
    val live = snap.rm8.keys.toSeq.sorted.flatMap { q =>
      try measure(q, sfDir).map(m => q -> m._1)
      catch { case _: Throwable => return true } // erroring = fail loudly
    }.toMap
    aggregateReproduces(live, snap.rm8).getOrElse(true)
  }

  /** Re-run one flagged query; true = the regression REPRODUCES:
    * min-of-3 norm > 2x snapshot AND cpu > 1.5x snapshot, both after
    * scaling by the sentinel-measured environment factor. */
  private def remeasureConfirms(q: String, sfDir: String,
                                snapNorm: Map[String, Double],
                                snapCpu: Map[String, Double]): Boolean = {
    val measured =
      try measure(q, sfDir)
      catch { case _: Throwable => return true } // erroring = fail loudly
    val (norm, cpuMin) = measured.getOrElse(
      return false) // renamed/retired since the artifact: snapshot is stale, not the code
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 1.0 else xs.sorted.apply(xs.size / 2)
    val sent = sentinelsFor(q, snapNorm).flatMap { sq =>
      try measure(sq, sfDir).map(m => (sq, m)) catch { case _: Throwable => None }
    }
    val envW = math.max(1.0, median(sent.collect {
      case (sq, (w, _)) if snapNorm.getOrElse(sq, 0.0) > 1e-3 => w / snapNorm(sq) }))
    val envC = math.max(1.0, median(sent.collect {
      case (sq, (_, c)) if snapCpu.getOrElse(sq, 0.0) > 1e-3 => c / snapCpu(sq) }))
    val confirmed = snapNorm.get(q).exists(sn => norm > 2.0 * envW * sn) &&
      snapCpu.get(q).forall(sc => cpuMin > 1.5 * envC * sc)
    System.err.println(f"[bench-gate] re-measured $q: norm $norm%.2f s " +
      f"(snapshot ${snapNorm.getOrElse(q, 0.0)}%.2f, env x$envW%.2f), " +
      f"cpu $cpuMin%.2f s (snapshot ${snapCpu.getOrElse(q, 0.0)}%.2f, env x$envC%.2f) -> " +
      (if (confirmed) "CONFIRMED regression" else "not reproduced (host contention)"))
    confirmed
  }

  /** Full live verdict for an artifact: pure gate, then re-measure
    * each flag — per-query flags individually (sentinel-scaled), the
    * AGGREGATE flag by the sampled-sum rule (r17 next-round #1: the
    * r17 driver artifact turned the suite red through the aggregate
    * path alone while the per-query re-measurements refuted all 10 of
    * its flags at parity; the aggregate must be confirmable by the
    * same discipline). Only reproduced regressions remain in `_1`.
    * `_2` = flags the re-measurement DROPPED as contention ghosts —
    * callers must surface them (ADVICE r16: a reproduced 1.2-2x
    * regression lands here, and silence would bury it). */
  private def liveVerdict(artifactJson: String, snap: Snap)
      : (Seq[String], Seq[String]) = {
    val flagged = gate(artifactJson, snap)
    if (flagged.isEmpty) return (Nil, Nil)
    val sfDir = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(artifactJson)
      .map(_.group(1)).getOrElse("/root/testdata/sf0.1")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(sfDir)))
      return (flagged, Nil) // can't re-measure without the data: keep the flags
    flagged.partition { line =>
      if (line.startsWith("AGGREGATE")) aggregateConfirmsLive(sfDir, snap)
      else remeasureConfirms(line.takeWhile(_ != ':'), sfDir, snap.norm, snap.cpu)
    }
  }

  test("no query regressed vs snapshot (per-query + aggregate gate, " +
    "flags confirmed by live re-measurement)") {
    val local = java.nio.file.Paths.get("BENCH_local.json")
    assume(java.nio.file.Files.exists(local),
      "BENCH_local.json absent - bench has not run in this checkout")
    val localJson = java.nio.file.Files.readString(local)
    // an erroring query reports a near-zero wall and would sail under
    // every threshold — errors are failures here, not fast queries
    assert(!localJson.contains("\"query_errors\""),
      "bench recorded query errors — fix those before reading timings")
    // surface the artifact's own GC/heap evidence beside the env
    // factors (VERDICT r17 #2): a quiet-calib run whose CPU inflates
    // 10x+ with gc_sec in the tens is a GC-pressure run, adjudicable
    // from the artifact without re-measurement
    for (m <- """"(gc_sec|heap_max_mb|cpu_calib_sec|par_calib_sec)":([0-9.]+)""".r
           .findAllMatchIn(localJson))
      info(s"artifact ${m.group(1)} = ${m.group(2)}")
    val (confirmed, dropped) = liveVerdict(localJson, snapshot())
    // dropped ≠ invisible: every cleared flag prints in the test
    // report so a moderate (1.2-2x) reproduced drift still gets eyes
    // even though it no longer fails the build (ADVICE r16)
    dropped.foreach(d => info(s"DROPPED as contention ghost (re-measure " +
      s"did not confirm ≥2x): $d"))
    assert(confirmed.isEmpty,
      s"bench regressions (re-audit or refresh snapshot):\n  " +
        confirmed.mkString("\n  "))
  }

  test("re-measurement clears the round-15 driver artifact's contention " +
    "ghosts and confirms only the intentional a13 change") {
    // The run that falsified the r12-era cpu-corroboration rule: six
    // queries 2.5-6x normalized WITH cpu risen in step, five of them
    // on code whose quiet-host run matched the era snapshot. The pure
    // gate MUST flag them (no artifact property separates them from
    // real regressions); the live re-measurement clears the five
    // ghosts and CONFIRMS e2e_a13_encryption — which really did get
    // slower vs the r14-era snapshot (the intentional full-envelope
    // seal; the round-15 discipline failure was not refreshing the
    // snapshot for it). Fixture baseline = the era snapshot: a
    // historical artifact against today's faster baseline flags the
    // boring "code got faster since" direction instead.
    val driver = java.nio.file.Files.readString(
      java.nio.file.Paths.get("scripts/bench_driver_r15.json"))
    val flagged = gate(driver, eraSnapshot())
    assert(flagged.nonEmpty && flagged.forall(!_.startsWith("AGGREGATE")),
      s"fixture drifted: expected per-query flags only, got $flagged")
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get("/root/testdata/sf0.1")),
      "sf0.1 testdata absent - cannot exercise the re-measure path")
    val (confirmed, _) = liveVerdict(driver, eraSnapshot())
    assert(confirmed.forall(_.startsWith("e2e_a13_encryption:")),
      s"re-measurement failed to clear the r15 driver's contention ghosts:\n  " +
        confirmed.mkString("\n  "))
  }

  test("gate does NOT fire on the round-12 driver artifact (bursty host contention)") {
    // The exact run that falsified the round-11 gate: six queries
    // 2-6.2x normalized under bursty, invisible-to-scalar-calib host
    // load, on code byte-identical to the snapshot's.
    val driver = java.nio.file.Files.readString(
      java.nio.file.Paths.get("scripts/bench_driver_r12.json"))
    val flagged = gate(driver, eraSnapshot())
    assert(flagged.isEmpty,
      s"gate would have red-flagged the healthy r12 driver run:\n  " +
        flagged.mkString("\n  "))
  }

  test("gate KEEPS its teeth: seeded regressions fire") {
    val Snap(snapNorm, snapCpu, _) = snapshot()
    assume(snapCpu.nonEmpty, "snapshot predates cpu tracking")
    // 1. a single-query 3x algorithmic regression (wall AND cpu rise)
    val q = snapNorm.filter { case (k, v) => v > 1.0 && snapCpu.contains(k) }
      .keys.toSeq.sorted.headOption.getOrElse(fail("no >1s query in snapshot"))
    val flagged = regressions(
      snapNorm.updated(q, snapNorm(q) * 3), snapCpu.updated(q, snapCpu(q) * 3),
      snapNorm, snapCpu, perQueryTrusted = true)
    assert(flagged.exists(_.startsWith(q + ":")),
      s"seeded 3x regression on $q not flagged: $flagged")
    // 2. a broad wait-class regression (everything 1.6x in wall only,
    //    cpu flat — sleeps/lock convoys/spill): aggregate catches it
    val waity = snapNorm.map { case (k, v) => k -> v * 1.6 }
    val waitFlags = regressions(waity, snapCpu, snapNorm, snapCpu,
      perQueryTrusted = true)
    assert(waitFlags.exists(_.startsWith("AGGREGATE")),
      s"broad wall-only regression not caught by aggregate backstop: $waitFlags")
    // 3. the same broad regression in an OLD-format artifact (per-query
    //    untrusted) must STILL fire through the aggregate
    val oldFmt = regressions(waity, snapCpu, snapNorm, snapCpu,
      perQueryTrusted = false)
    assert(oldFmt.exists(_.startsWith("AGGREGATE")),
      s"aggregate must not depend on artifact format: $oldFmt")
  }

  test("AGGREGATE confirmation: sampled-sum rule keeps teeth and clears ghosts") {
    val rm8 = snapshot().rm8
    assert(rm8.size >= 8,
      s"snapshot carries only ${rm8.size} rm8 baselines — refresh via tools.Rm8Baseline")
    // the sample is the one Bench.rm8Sample defines over the snapshot,
    // so tool and gate can never disagree on its membership
    assert(rm8.keySet == Bench.rm8Sample(snapshot().norm).toSet,
      "queries_rm8 keys drifted from Bench.rm8Sample of queries_norm")
    // a live sample at baseline parity (the contended-artifact case:
    // the code did not change, only the driver's host was loud) clears
    assert(aggregateReproduces(rm8, rm8) == Some(false),
      "parity sample must clear the AGGREGATE flag")
    // a broad 1.6x live regression (the wait-class seeding from the
    // pure-gate teeth test, but MEASURED this time) confirms
    assert(aggregateReproduces(rm8.map { case (k, v) => k -> v * 1.6 }, rm8)
      == Some(true), "reproduced broad regression must confirm")
    // too few commensurable queries = cannot adjudicate (keep flag)
    assert(aggregateReproduces(rm8.take(3), rm8).isEmpty,
      "a 3-query sample must not support an aggregate verdict")
  }
}
