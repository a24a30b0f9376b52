package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression gate on exact Spark counters: every query of
  * [[SparkEntry.queries]] runs once through [[Measure.run]] at sf0.001
  * on `local[4]`, and its jobs, stages, tasks, shuffle and spill bytes
  * and output rows are compared with `scripts/counter_snapshot.json`.
  *
  * For a fixed plan, input and partitioning Spark does the same work
  * on every run, loaded host or not, so these counters need no host
  * calibration. A new exchange adds stages and tasks, a column carried
  * through a shuffle that used to prune it grows the shuffle bytes, and
  * a changed result changes the row count; wall time is the business
  * of [[BenchRegressionSpec]].
  *
  * Rules per query: `output_rows` equal; `jobs`, `stages` and
  * `spill_bytes` at most the snapshot's and `tasks` at most 2 more
  * ([[CounterGateSpec.TaskSlack]]), plus a named allowance for the
  * [[CounterGateSpec.TimingSlack]] queries; shuffle read and write
  * bytes at most 1.25 x the snapshot's + 8 KiB (the compressed shuffle
  * blocks of one plan vary by a few KiB from run to run). Decreases
  * pass and are listed; shuffle bytes count as decreased once the
  * snapshot's value is above the limit of the new one. A query over
  * its bounds is run up to twice more and passes if one run is within
  * them. The query sets must be equal, so adding or retiring a query
  * updates the snapshot too.
  *
  * Each run writes what it measured to `target/counter_snapshot.live.json`
  * in the snapshot's format. After an audited plan change, refreshing
  * the snapshot is copying that file over `scripts/counter_snapshot.json`.
  */
class CounterGateSpec extends AnyFunSuite with LocalSpark {

  import CounterGateSpec._

  private val snapshotPath = Paths.get("scripts/counter_snapshot.json")
  private val livePath = Paths.get("target/counter_snapshot.live.json")

  private def sfDir: String = TestData.requireSf(Scale)

  /** The session every snapshot was taken in. An inherited session
    * with other settings would fail as a wall of counter diffs. */
  private def requireSnapshotSession(): Unit = {
    assert(spark.sparkContext.defaultParallelism == Cpus,
      s"counter gate needs local[$Cpus], got defaultParallelism " +
        spark.sparkContext.defaultParallelism)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == Cpus.toString,
      "counter gate needs spark.sql.shuffle.partitions=" + Cpus)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "counter gate needs AQE on")
  }

  private def measure(name: String)(
      df: => org.apache.spark.sql.DataFrame): Map[String, Long] =
    counters(Measure.run(spark, name)(df))

  private def snapshot(): Map[String, Map[String, Long]] = {
    val json = Files.readString(snapshotPath)
    val root = Mapper.readTree(json)
    assert(root.get("sf").asText == Scale && root.get("cpus").asInt == Cpus,
      s"$snapshotPath was not taken at $Scale on local[$Cpus]")
    Measure.counters(json).map { case (q, c) => q -> c.map { case (k, v) => k -> v.toLong } }
  }

  test("every query's Spark counters stay within the snapshot") {
    val d = sfDir
    requireSnapshotSession()
    // unbilled warm-up, as in Bench: session, codegen, and the shared
    // e2e store, which the first e2e_store_* query would otherwise build
    Measure.run(spark, "warm")(SparkEntry.queries("q1_pricing_summary")(spark, d))
    graft.queries.EngineOps.storeFor(spark, d)
    val snap = if (Files.exists(snapshotPath)) snapshot() else Map.empty[String, Map[String, Long]]
    // A query over its bounds runs up to twice more and passes if one run
    // is within them. Adaptive execution re-plans while stages run, so on
    // some runs a query ends with one more job, stage or task than on
    // others; an added exchange, a lost prune or a changed result repeats
    // on every run.
    val live = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def run() = measure(name)(fn(spark, d))
      def over(c: Map[String, Long]) =
        snap.get(name).toSeq.flatMap(s => compare(Map(name -> s), Map(name -> c))._1)
      val first = run()
      val firstOver = over(first)
      name -> (if (firstOver.isEmpty) first else {
        info(s"re-running $name: " + firstOver.mkString("; "))
        Iterator.fill(2)(run()).find(over(_).isEmpty).getOrElse(first)
      })
    }.toMap
    Files.createDirectories(livePath.getParent)
    Files.writeString(livePath, render(live))
    assert(Files.exists(snapshotPath), s"no $snapshotPath: audit $livePath and copy it there")
    val (violations, decreases) = compare(snap, live)
    decreases.foreach(d => info(s"decreased: $d"))
    TimingSlack.foreach { case (q, (n, why)) =>
      info(s"$q may run $n more jobs, stages and tasks: $why") }
    assert(violations.isEmpty,
      s"${violations.size} counter regressions (audit the plan; if intended, " +
        s"copy $livePath over $snapshotPath):\n  " + violations.mkString("\n  "))
  }

  test("an added repartition exchange on a real query fails the gate") {
    val d = sfDir
    requireSnapshotSession()
    val q = "q1_pricing_summary"
    val fn = SparkEntry.queries(q)
    val base = snapshot()(q)
    val (violations, _) = compare(Map(q -> base),
      Map(q -> measure(q)(fn(spark, d).repartition(Cpus + 1))))
    assert(violations.exists(v => v.startsWith(s"$q: stages") || v.startsWith(s"$q: tasks")),
      violations)
  }

  test("seeded regressions of every class fail the gate; decreases pass") {
    val snap = snapshot()
    def violated(q: String, counter: String, f: Long => Long): Boolean =
      compare(snap, snap.updated(q, snap(q).updated(counter, f(snap(q)(counter)))))
        ._1.exists(_.startsWith(s"$q: $counter"))
    val shuffled = snap.filter { case (k, c) =>
      c("shuffle_write_bytes") > 0 && !TimingSlack.contains(k) }.keys.toSeq.sorted
    assert(shuffled.nonEmpty)
    val q = shuffled.head
    assert(violated(q, "stages", _ + 1), "an added exchange (one more stage)")
    assert(!violated(q, "tasks", _ + TaskSlack) && violated(q, "tasks", _ + TaskSlack + 1),
      "more tasks than the slack")
    assert(violated(q, "jobs", _ + 1), "one more job")
    assert(violated(q, "output_rows", _ + 1) && violated(q, "output_rows", _ - 1),
      "a changed row count")
    assert(violated(q, "spill_bytes", _ + 1), "nonzero spill")
    // a doubled shuffle fails every query whose shuffle exceeds what the
    // tolerance absorbs: 2s > 1.25s + 8 KiB  <=>  s > 8 KiB / 0.75
    for (counter <- Seq("shuffle_write_bytes", "shuffle_read_bytes")) {
      val big = snap.filter(_._2(counter) > ShuffleSlackBytes / 0.75).keys
      assert(big.nonEmpty)
      big.foreach(b => assert(violated(b, counter, _ * 2), s"$b: doubled $counter"))
    }
    val (none, fewer) = compare(snap, snap.updated(q, snap(q).updated("stages", 0L)))
    assert(none.isEmpty && fewer.exists(_.startsWith(s"$q: stages")), fewer)
    assert(compare(snap, snap - q)._1.exists(_.contains(q)), "a retired query")
    assert(compare(snap - q, snap)._1.exists(_.contains(q)), "a new query")
  }
}

object CounterGateSpec {

  val Scale = "sf0.001"
  val Cpus = 4
  val ShuffleSlackBytes = 8L * 1024

  private val Mapper = new com.fasterxml.jackson.databind.ObjectMapper

  /** The gated counters, in snapshot order. Executor CPU and wall time
    * are left out: they follow the host, not the plan. */
  val Counters = Seq("jobs", "stages", "tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "output_rows")

  /** Extra jobs, stages and tasks a query may run over its snapshot,
    * with why. Their output rows stay exact. */
  val TimingSlack: Map[String, (Long, String)] = Map(
    "e2e_stream_during_compact" -> (2L,
      "its micro-batch count follows trigger timing against the concurrent compaction"))

  def counters(m: Measure.Sample): Map[String, Long] = Map(
    "jobs" -> m.jobs, "stages" -> m.stages, "tasks" -> m.tasks,
    "shuffle_read_bytes" -> m.shuffleReadBytes,
    "shuffle_write_bytes" -> m.shuffleWriteBytes,
    "spill_bytes" -> m.spillBytes, "output_rows" -> m.outputRows)

  /** Extra tasks any query may run: adaptive execution coalesces a
    * shuffle's partitions by their compressed sizes, which vary by a few
    * bytes from run to run, so a stage whose sizes sit near the packing
    * target runs one task more on some runs (`sketch_hll_merge`, about
    * 1 MiB of shuffle, measured 18 and 19 tasks on one plan;
    * `dedup_bloom` 12 and 13, with its shuffle read moving too). An
    * added exchange still adds a job and a stage. */
  val TaskSlack = 2L

  /** The most shuffle bytes a query with `s` snapshot bytes may move. */
  def shuffleLimit(s: Long): Long = (1.25 * s).toLong + ShuffleSlackBytes

  /** (violations, decreases) of `live` against `snap`, one line each. */
  def compare(snap: Map[String, Map[String, Long]],
              live: Map[String, Map[String, Long]]): (Seq[String], Seq[String]) = {
    val keys = (snap.keySet -- live.keySet).toSeq.sorted.map(q =>
      s"$q: in the snapshot but not measured (retired? refresh the snapshot)") ++
      (live.keySet -- snap.keySet).toSeq.sorted.map(q =>
        s"$q: measured but not in the snapshot (new? refresh the snapshot)")
    val lines = (snap.keySet intersect live.keySet).toSeq.sorted.flatMap { q =>
      val slack = TimingSlack.get(q).map(_._1).getOrElse(0L)
      Counters.flatMap { k =>
        val (s, l) = (snap(q)(k), live(q)(k))
        val shuffle = k.startsWith("shuffle_")
        val limit =
          if (shuffle) shuffleLimit(s)
          else if (k == "tasks") s + slack + TaskSlack
          else if (k == "jobs" || k == "stages") s + slack
          else s
        val line = s"$q: $k $s -> $l"
        if (k == "output_rows" && l != s) Some(Left(line + " (must be equal)"))
        else if (l > limit) Some(Left(line + s" (limit $limit)"))
        // shuffle bytes decrease only beyond what the tolerance absorbs
        else if (if (shuffle) shuffleLimit(l) < s else l < s) Some(Right(line))
        else None
      }
    }
    (keys ++ lines.collect { case Left(v) => v }, lines.collect { case Right(d) => d })
  }

  /** The snapshot file's text: one query per line, by name. */
  def render(live: Map[String, Map[String, Long]]): String =
    live.toSeq.sortBy(_._1).map { case (q, c) =>
      s"""  "$q": """ + Counters.map(k => s""""$k":${c(k)}""").mkString("{", ",", "}")
    }.mkString(s"""{\n "sf": "$Scale",\n "cpus": $Cpus,\n "queries_counters": {\n""",
      ",\n", "\n }\n}\n")
}
