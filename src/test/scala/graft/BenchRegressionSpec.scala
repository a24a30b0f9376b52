package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wall-time backstop for the bench: a pure function of the committed
  * `BENCH_local.json` and `scripts/bench_snapshot.json`, with no
  * re-measurement and no host calibration. Plan regressions (a new
  * exchange, a lost prune, a changed result) are [[CounterGateSpec]]'s:
  * its counters are exact on any host. What counters cannot see is
  * time spent waiting (sleeps, lock convoys) or a slower operator on
  * the same plan, so this gate keeps two wall rules over the raw
  * `queries` and `queries_cpu_sec` maps:
  *
  *  - per query: wall > 2.5x snapshot (above a 0.5 s floor) AND cpu >
  *    2x (above 0.3 s). A wall-only spike with flat cpu is scheduler
  *    delay, never code;
  *  - aggregate: total wall over the shared queries > 1.4x the
  *    snapshot's. Bursty host contention is sparse and cancels in the
  *    total; a broad regression or a wait-class one does not.
  *
  * Walls compare only between runs on the same host class: refresh the
  * snapshot from a bench run on the host the next runs will use
  * (copy `queries` and `queries_cpu_sec`). The live test is a no-op
  * when BENCH_local.json is absent (fresh clone): it gates bench runs,
  * not builds.
  */
class BenchRegressionSpec extends AnyFunSuite {

  import Measure.numMap

  /** The gate itself — pure so the teeth test below exercises the exact
    * production decision, not a re-implementation. */
  private def regressions(
      nowWall: Map[String, Double], nowCpu: Map[String, Double],
      snapWall: Map[String, Double], snapCpu: Map[String, Double]): Seq[String] = {
    val wallFloor = 0.5 // seconds: sub-floor times are scheduler noise
    val cpuFloor = 0.3
    val perQuery = nowWall.toSeq.sortBy(_._1).flatMap { case (q, t) =>
      (snapWall.get(q), snapCpu.get(q), nowCpu.get(q)) match {
        case (Some(s), Some(sc), Some(c))
            if t > math.max(2.5 * s, wallFloor) &&
               c > math.max(2.0 * sc, cpuFloor) =>
          Some(f"$q: wall $t%.2f s vs $s%.2f s (${t / math.max(s, 1e-9)}%.1fx), cpu $c%.2f s vs $sc%.2f s (${c / math.max(sc, 1e-9)}%.1fx)")
        // snapshot predates cpu tracking for this query: wall-only
        case (Some(s), None, _) if t > math.max(2.5 * s, wallFloor) =>
          Some(f"$q: wall $t%.2f s vs snapshot $s%.2f s (no cpu baseline)")
        case _ => None
      }
    }
    val shared = nowWall.keySet intersect snapWall.keySet
    val nowTot = shared.toSeq.map(nowWall).sum
    val snapTot = shared.toSeq.map(snapWall).sum
    val aggregate =
      if (shared.nonEmpty && nowTot > 1.4 * snapTot)
        Seq(f"AGGREGATE: total wall $nowTot%.1f s vs snapshot $snapTot%.1f s over ${shared.size} shared queries — broad regression")
      else Nil
    perQuery ++ aggregate
  }

  private def read(path: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(path))

  private val snapshot = read("scripts/bench_snapshot.json")
  private val snapWall = numMap(snapshot, "queries")
  private val snapCpu = numMap(snapshot, "queries_cpu_sec")

  test("no query regressed vs snapshot (per-query + aggregate)") {
    val local = java.nio.file.Paths.get("BENCH_local.json")
    assume(java.nio.file.Files.exists(local),
      "BENCH_local.json absent - bench has not run in this checkout")
    val localJson = java.nio.file.Files.readString(local)
    // an erroring query reports a near-zero wall and would sail under
    // every threshold — errors are failures here, not fast queries
    assert(!localJson.contains("\"query_errors\""),
      "bench recorded query errors — fix those before reading timings")
    // the artifact's own GC/heap evidence: a run whose CPU inflates
    // with gc_sec in the tens is a GC-pressure run
    for (m <- """"(cpus|gc_sec|heap_max_mb)":([0-9.]+)""".r.findAllMatchIn(localJson))
      info(s"artifact ${m.group(1)} = ${m.group(2)}")
    val flagged = regressions(numMap(localJson, "queries"),
      numMap(localJson, "queries_cpu_sec"), snapWall, snapCpu)
    assert(flagged.isEmpty,
      s"bench regressions (re-audit, or refresh the snapshot from a run on " +
        s"this host class):\n  " + flagged.mkString("\n  "))
  }

  test("gate KEEPS its teeth: seeded regressions fire") {
    // 1. a single-query 3x algorithmic regression (wall AND cpu rise)
    val q = snapWall.filter { case (k, v) => v > 1.0 && snapCpu.contains(k) }
      .keys.toSeq.sorted.headOption.getOrElse(fail("no >1s query in snapshot"))
    val flagged = regressions(
      snapWall.updated(q, snapWall(q) * 3), snapCpu.updated(q, snapCpu(q) * 3),
      snapWall, snapCpu)
    assert(flagged.exists(_.startsWith(q + ":")),
      s"seeded 3x regression on $q not flagged: $flagged")
    // 2. a broad wait-class regression (everything 1.6x in wall only,
    //    cpu flat — sleeps/lock convoys): the aggregate catches it
    val waity = snapWall.map { case (k, v) => k -> v * 1.6 }
    val waitFlags = regressions(waity, snapCpu, snapWall, snapCpu)
    assert(waitFlags.exists(_.startsWith("AGGREGATE")),
      s"broad wall-only regression not caught by aggregate backstop: $waitFlags")
    // 3. the snapshot against itself flags nothing
    assert(regressions(snapWall, snapCpu, snapWall, snapCpu).isEmpty)
  }
}
