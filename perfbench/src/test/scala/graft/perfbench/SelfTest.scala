package graft.perfbench

/** Tests of the benchmark's own code; only the last one starts a
  * local Spark session:
  *
  *   python3 perfbench/build.py --test
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case t: Throwable => println(s"  threw $t"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  /** Every input a run derives from `seed`: tail record bodies (with a
    * fixed due time), bulk bodies, bulk stream assignment, and the
    * cipher key. */
  private def inputs(seed: Long, shape: Shape): Seq[Array[Byte]] =
    (0 until 50).map(rpc => Gen.tailBody(seed, rpc % 2, rpc, rpc % 10, 123456789L, shape.tailBody)) ++
      (0 until 50).map(id => shape.bulkBody(seed, id)) ++
      Seq((0 until 1000).map(id => Gen.streamOf(seed, 1, id, shape.bulkStreams).toByte).toArray,
        Gen.body(seed, 7, 0L, 32))

  private def same(a: Seq[Array[Byte]], b: Seq[Array[Byte]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }

  def main(args: Array[String]): Unit = {
    val shapes = Seq("small", "events").map(w => w -> Shape.of(w).get)

    for ((w, shape) <- shapes) {
      test(s"$w: the same seed yields byte-identical inputs") {
        same(inputs(42L, shape), inputs(42L, shape))
      }
      test(s"$w: a different seed yields different inputs") {
        val a = inputs(42L, shape)
        val b = inputs(43L, shape)
        // a props body has 100 values, so compare the bulk bodies as one
        val (bulkA, bulkB) = (a.slice(50, 100).flatten, b.slice(50, 100).flatten)
        !java.util.Arrays.equals(bulkA.toArray, bulkB.toArray) &&
          (a.take(50) ++ a.drop(100)).zip(b.take(50) ++ b.drop(100))
            .forall { case (x, y) => !java.util.Arrays.equals(x, y) }
      }
    }
    test("events bodies are props strings of 8 or 9 bytes") {
      val bs = (0 until 1000).map(id => new String(Gen.props(3L, 1, id), "UTF-8"))
      bs.forall(_.matches("""\{"k": \d{1,2}\}""")) && bs.map(_.length).toSet == Set(8, 9)
    }
    test("bodies are JSON-safe ASCII of the requested size") {
      val b = Gen.body(7L, 1, 99L, 4096)
      b.length == 4096 && b.forall(c => Character.isLetterOrDigit(c.toChar))
    }
    test("stream assignment covers every stream") {
      (0 until 1000).map(id => Gen.streamOf(5L, 1, id, 8)).toSet == (0 until 8).toSet
    }
    test("a tail record carries its RPC, index and due time") {
      Gen.parseTail(Gen.tailBody(1L, 0, 1234, 7, 98765432101234L, 256)) == ((1234, 7, 98765432101234L))
    }

    test("open-loop latency counts a stalled sender's wait in its later requests") {
      var now = 0L
      val loop = new OpenLoop(periodNs = 100L, clock = () => now, sleepUntil = t => now = t)
      // request 1 stalls for 550 ns; requests 2..6 were due while it ran
      val sent = loop.run(t0 = 0L, n = 8) { (k, _) => now += (if (k == 1) 550L else 10L) }
      val byK = sent.map(s => s.k -> s).toMap
      byK(0).latencyMs * 1e6 == 10.0 &&
        byK(1).latencyMs * 1e6 == 550.0 &&
        // request 2 was due at 200, started at 650 when 1 finished
        byK(2).lateMs * 1e6 == 450.0 && byK(2).latencyMs * 1e6 == 460.0 &&
        // the backlog drains one 10 ns request at a time
        byK(3).latencyMs * 1e6 == 370.0 &&
        sent.map(_.startNs).sliding(2).forall { case Seq(a, b) => b >= a }
    }
    test("an open loop on time sends each request at its due time") {
      var now = 0L
      val sent = new OpenLoop(100L, () => now, t => now = t).run(0L, 5) { (_, _) => now += 5L }
      sent.map(_.startNs) == Seq(0L, 100L, 200L, 300L, 400L) && sent.forall(_.lateMs == 0.0)
    }

    test("the top percentile is the highest with at least 10 samples beyond it") {
      Stats.topPercentile(19).isEmpty &&
        Stats.topPercentile(20).contains(0.5) &&
        Stats.topPercentile(99).contains(0.5) &&
        Stats.topPercentile(100).contains(0.9) &&
        Stats.topPercentile(200).contains(0.95) &&
        Stats.topPercentile(999).contains(0.95) &&
        Stats.topPercentile(1000).contains(0.99) &&
        Stats.topPercentile(10000).contains(0.999)
    }
    test("the top value leaves at least 10 samples above it") {
      val xs = (1 to 200).map(_.toDouble)
      Stats.top(xs) == 190.0 && xs.count(_ > Stats.top(xs)) == 10 &&
        Stats.top((1 to 10).map(_.toDouble)).isNaN
    }
    test("nearest-rank quantile and median") {
      val xs = IndexedSeq(1.0, 2.0, 3.0, 4.0)
      Stats.quantile(xs, 0.5) == 2.0 && Stats.median(xs) == 2.5 && Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0
    }

    test("md5 chains match for the same bodies in order, not reordered") {
      def chain(bs: Seq[String]) = { val c = new Chain; bs.foreach(b => c.add(b.getBytes("UTF-8"))); c.hex }
      chain(Seq("a", "b", "c")) == chain(Seq("a", "b", "c")) &&
        chain(Seq("a", "b", "c")) != chain(Seq("a", "c", "b"))
    }

    test("self time subtracts the union of overlapping children") {
      val spans = Seq(
        Span(1, 0, 1, "root", 0, 100),
        Span(2, 1, 1, "a", 10, 40),
        Span(3, 1, 1, "b", 30, 60), // overlaps a: union 10..60
        Span(4, 1, 1, "c", 90, 120), // clipped to the parent: 90..100
        Span(5, 2, 1, "a.child", 15, 20))
      val self = Trace.selfTimes(spans)
      self(1) == 100 - 50 - 10 && self(2) == 25 && self(3) == 30 && self(5) == 5
    }
    test("spans share their request id and nest on one thread") {
      Trace.enabled = true
      Trace.reset()
      Trace.span("outer") { Trace.span("inner")(()) }
      val ctx = Trace.span("other")(Trace.context)
      val t = new Thread(() => Trace.within(ctx)(Trace.span("worker")(())))
      t.start(); t.join()
      Trace.enabled = false
      val s = Trace.spans.map(x => x.name -> x).toMap
      Trace.reset()
      s("inner").parent == s("outer").id && s("inner").req == s("outer").id &&
        s("other").req != s("outer").req &&
        s("worker").parent == s("other").id && s("worker").req == s("other").req
    }
    test("tracing off records nothing") {
      Trace.reset()
      Trace.span("x")(())
      Trace.spans.isEmpty
    }

    test("the result line has exactly the keys correct, attempted, failed, metrics") {
      val r = new Report
      r.endToEnd("setup_s", 1.5, "s")
      r.perLayer("jvm.gc_s", 0.25, "s")
      r.check(true, "fine")
      r.json(traced = false) ==
        """{"correct":true,"attempted":1,"failed":0,"metrics":{"setup_s":{"value":1.5,"unit":"s"}}}""" &&
        r.json(traced = true).contains(""""jvm.gc_s":{"value":0.25,"unit":"s"}""")
    }
    test("a failed check makes the result incorrect") {
      val r = new Report
      r.check(false, "mismatch")
      r.json(traced = false).startsWith("""{"correct":false,"attempted":1,"failed":1""")
    }

    test("the timed action builds the full projection, where count() prunes it") {
      val spark = org.apache.spark.sql.SparkSession.builder().master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
        .getOrCreate()
      try {
        import org.apache.spark.sql.functions.{col, udf}
        val calls = spark.sparkContext.longAccumulator("calls")
        val plusOne = udf { (x: Long) => calls.add(1L); x + 1 }
        val df = spark.range(1000).select(plusOne(col("id")).as("v"))
        df.count()
        val afterCount = calls.value
        FunctionsProbe.materialize(df)
        afterCount == 0L && calls.value == 1000L
      } finally spark.stop()
    }

    if (failures > 0) { println(s"$failures test(s) failed"); sys.exit(1) }
    println("all benchmark self-tests passed")
  }
}
