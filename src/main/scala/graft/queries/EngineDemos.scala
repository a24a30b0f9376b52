package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.log.{StreamStore, CipherAlgo, LocationInfo, Layout, Visibility}
import graft.model._

/** Deterministic engine-semantics checks exposed as oracle queries.
  *
  * Each query exercises a stateful control-plane operator against a
  * fresh temp store with pinned clocks and returns (check, outcome)
  * rows; the DuckDB oracle is the constant table of expected outcomes
  * (reference semantics), so the driver hash-verifies behaviors that
  * are not otherwise SQL-expressible: CAS, fencing, in-band commands,
  * catalog create/ensure/reconfigure, encryption, batching, chunking,
  * access scopes, terminal deletion.
  */
object EngineDemos {

  private def freshStore(s: SparkSession): StreamStore = {
    val st = new StreamStore(s, Files.createTempDirectory("graft-demo").toString)
    st.catalog.createBasin("demo-basin1",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st
  }

  private def rec(body: String): EnvelopeRecord =
    EnvelopeRecord(Nil, body.getBytes)

  private def out(s: SparkSession, rows: Seq[(String, String)]): DataFrame = {
    val sorted = rows.sortBy(_._1)
    s.createDataFrame(sorted).toDF("chk", "outcome").orderBy("chk")
  }

  private def constOracle(rows: Seq[(String, String)]): String =
    rows.sortBy(_._1)
      .map { case (c, o) => s"SELECT '$c' AS chk, '$o' AS outcome" }
      .mkString("", "\nUNION ALL\n", "\nORDER BY chk")

  private def demo(name: String, expected: Seq[(String, String)])(
      run: (SparkSession, StreamStore) => Seq[(String, String)]): QueryDef =
    QueryDef(name,
      (s, _) => out(s, run(s, freshStore(s))),
      Some(constOracle(expected)))

  /** Set a session conf for the duration of `f`, restored even on
    * failure so later queries are unaffected. */
  private def withScopedConf[T](sp: SparkSession, key: String, value: String)(
      f: => T): T = {
    val prev = sp.conf.get(key)
    sp.conf.set(key, value)
    try f finally sp.conf.set(key, prev)
  }

  /** Scope the shuffle-partition count to one streaming demo: every
    * stateful operator runs a state store PER shuffle partition, and
    * the partition count is fixed by the first microbatch (then
    * pinned by the checkpoint) — at the session's 32 partitions a
    * 6-row demo pays 32-128 state-store lifecycles per microbatch for
    * nothing. ONE partition since r22: these demos are fixed-size
    * semantic proofs (≤ 10 rows per batch), so the guide-§2 rule
    * "size partitions to the data" bottoms out at 1 — r22's per-batch
    * breakdown (probe in c4420b2) measured addBatch 1.6-4.7 s/pass
    * at 4 partitions vs 0.6-1.3 s at 1, same oracle outputs (state
    * persistence, restart resume and watermark semantics are
    * partition-count-independent). A production stream sizes this to
    * its key cardinality; the demos' count is data-matched, not
    * host-matched, exactly like the 4 it replaces.
    */
  private def withDemoPartitions[T](sp: SparkSession, n: Int = 1)(f: => T): T =
    withScopedConf(sp, "spark.sql.shuffle.partitions", n.toString)(f)

  /** Dedup horizon for the live-dedup demo family. Every streaming
    * dedup below is state-BOUNDED: the dedup key lives in the state
    * store only while the event-time watermark is within this horizon
    * of the record's timestamp — after that the key is evicted, so on
    * a forever tail the state size is proportional to the horizon's
    * key arrival rate, not to the stream's lifetime. (The batch dedup
    * family needs no such bound; a batch scan ends.) The demos' pinned
    * clocks (1000/2000 ms) sit far inside one horizon, so eviction
    * never fires mid-demo and the expected outputs stay exact;
    * StreamDedupStateSpec drives the clock PAST the horizon and pins
    * the eviction behavior (bounded state, in-horizon dups still
    * drop). */
  private val DedupHorizon = "1 hour"

  /** The one shared rule for bounded streaming dedup: requires an
    * `ev_ts` TIMESTAMP column (derive with `timestamp_millis(
    * timestamp)` from the source's ms-clock LONG), watermarks it at
    * [[DedupHorizon]], and deduplicates on `keys` with
    * watermark-bounded state. */
  private def dedupWithinHorizon(df: DataFrame, keys: String*): DataFrame =
    df.withWatermark("ev_ts", DedupHorizon)
      .dropDuplicatesWithinWatermark(keys.toSeq)

  def defs: Seq[QueryDef] = Seq(

    // A4 — match_seq_num CAS (streamer.rs:352-359)
    demo("e2e_a4_cas", Seq(
      "cas_at_tail" -> "ok:0..2",
      "cas_stale" -> "SeqNumMismatch(0,2)",
      "cas_next" -> "ok:2..3")) { (_, st) =>
      st.catalog.createStream("demo-basin1", "s")
      def fmt(r: Either[AppendError, AppendAck]) = r match {
        case Right(a) => s"ok:${a.start.seqNum}..${a.end.seqNum}"
        case Left(AppendError.SeqNumMismatch(m, a)) => s"SeqNumMismatch($m,$a)"
        case Left(e) => e.toString
      }
      Seq(
        "cas_at_tail" -> fmt(st.append("demo-basin1", "s",
          AppendInput(Seq(rec("a"), rec("b")), matchSeqNum = Some(0)), Some(1000))),
        "cas_stale" -> fmt(st.append("demo-basin1", "s",
          AppendInput(Seq(rec("c")), matchSeqNum = Some(0)), Some(1000))),
        "cas_next" -> fmt(st.append("demo-basin1", "s",
          AppendInput(Seq(rec("c")), matchSeqNum = Some(2)), Some(1000))))
    },

    // A5/A6 — fencing enforced only when provided; in-band fence command
    demo("e2e_a5_fencing", Seq(
      "fence_set" -> "ok",
      "no_token" -> "ok",
      "wrong_token" -> "FencingTokenMismatch(writer-1)",
      "right_token" -> "ok")) { (_, st) =>
      st.catalog.createStream("demo-basin1", "f")
      def fmt(r: Either[AppendError, AppendAck]) = r match {
        case Right(_) => "ok"
        case Left(AppendError.FencingTokenMismatch(cur)) => s"FencingTokenMismatch($cur)"
        case Left(e) => e.toString
      }
      Seq(
        "fence_set" -> fmt(st.append("demo-basin1", "f",
          AppendInput(Seq(FenceCommand("writer-1"))), Some(1000))),
        "no_token" -> fmt(st.append("demo-basin1", "f",
          AppendInput(Seq(rec("a"))), Some(1000))),
        "wrong_token" -> fmt(st.append("demo-basin1", "f",
          AppendInput(Seq(rec("b")), fencingToken = Some("writer-2")), Some(1000))),
        "right_token" -> fmt(st.append("demo-basin1", "f",
          AppendInput(Seq(rec("b")), fencingToken = Some("writer-1")), Some(1000))))
    },

    // A7 — trim: monotone, capped at own seq+1; tail survives
    demo("e2e_a7_trim", Seq(
      "after_trim5_first_visible" -> "5",
      "after_trim5_tail" -> "11",
      "trim_back_noop" -> "5",
      // seqs: records 0-9, trim@10, no-op trim@11, terminal trim@12 -> cap 13
      "terminal_cap" -> "13")) { (_, st) =>
      st.catalog.createStream("demo-basin1", "t")
      st.append("demo-basin1", "t", AppendInput((0 until 10).map(i => rec(s"r$i"))), Some(1000))
      st.append("demo-basin1", "t", AppendInput(Seq(TrimCommand(5))), Some(1000))
      val first = st.readBatch("demo-basin1", "t",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get.head.seqNum
      val tail = st.checkTail("demo-basin1", "t").seqNum
      st.append("demo-basin1", "t", AppendInput(Seq(TrimCommand(2))), Some(1000))
      val noop = st.manifest("demo-basin1", "t").trimPoint
      st.append("demo-basin1", "t", AppendInput(Seq(TrimCommand(Long.MaxValue))), Some(1000))
      Seq(
        "after_trim5_first_visible" -> first.toString,
        "after_trim5_tail" -> tail.toString,
        "trim_back_noop" -> noop.toString,
        "terminal_cap" -> st.manifest("demo-basin1", "t").trimPoint.toString)
    },

    // A9 — batcher packing + match_seq_num chaining
    demo("e2e_a9_batcher", Seq(
      "sizes" -> "3,3,3,1",
      "match_seq_nums" -> "10,13,16,19",
      "oversize" -> "error")) { (_, _) =>
      val b = new Batcher(maxRecords = 3, initialMatchSeqNum = Some(10))
      val Right(out0) = b.batch(Seq.fill(10)(rec("x"))): @unchecked
      val over = new Batcher(maxBytes = 20).batch(Seq(rec("x" * 100)))
      Seq(
        "sizes" -> out0.map(_.records.size).mkString(","),
        "match_seq_nums" -> out0.map(_.matchSeqNum.get).mkString(","),
        "oversize" -> (if (over.isLeft) "error" else "accepted"))
    },

    // A13 — encryption round-trip through BOTH reference ciphers
    // (encryption.rs:9-12: format 0x01 AEGIS-256, 0x02 AES-256-GCM);
    // per-basin stream_cipher selection (config.rs:323); metering stays
    // plaintext-sized; key without configured cipher -> plaintext
    demo("e2e_a13_encryption", Seq(
      "aegis_roundtrip" -> "secret-payload",
      "aegis_format_id" -> "1",
      "gcm_roundtrip" -> "secret-payload",
      "gcm_format_id" -> "2",
      "stored_differs" -> "true,true",
      "wrong_key" -> "auth_failed,auth_failed",
      "metered_plaintext" -> "22,22",
      "key_without_cipher" -> "plaintext",
      "cipher_without_key" -> "missing_key",
      "bulk_roundtrip" -> "bulk-0,bulk-1,bulk-2,bulk-3",
      "bulk_format_id" -> "1")) { (sp, st) =>
      val key = Array.fill(32)(0x24.toByte)
      val out = Seq(CipherAlgo.Aegis256 -> "enc-aegis-basin",
                    CipherAlgo.Aes256Gcm -> "enc-gcm-basin").map { case (algo, basin) =>
        st.catalog.createBasin(basin, BasinConfig(
          defaultStreamConfig =
            StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
          streamCipher = Some(algo)))
        st.catalog.createStream(basin, "enc")
        st.append(basin, "enc", AppendInput(Seq(rec("secret-payload"))),
          Some(1000), Some(key))
        val raw = st.visible(basin, "enc").collect().head
        val plain = st.readBatch(basin, "enc",
          ReadSpec(ReadStart(ReadFrom.SeqNum(0))), cipher = Some(key))
          .toOption.get.head
        val wrong = try {
          st.readBatch(basin, "enc", ReadSpec(ReadStart(ReadFrom.SeqNum(0))),
            cipher = Some(Array.fill(32)(0x25.toByte)))
          "decrypted"
        } catch { case _: Throwable => "auth_failed" }
        val stored = raw.getAs[Array[Byte]](3)
        (new String(plain.body), stored(0).toInt,
          (!java.util.Arrays.equals(stored, "secret-payload".getBytes)).toString,
          wrong, raw.getLong(4).toString)
      }
      // resolution edges (common/src/encryption.rs:113-131)
      st.catalog.createStream("demo-basin1", "enc-plain")
      st.append("demo-basin1", "enc-plain", AppendInput(Seq(rec("open"))),
        Some(1000), Some(key))
      val plainStored = new String(st.visible("demo-basin1", "enc-plain")
        .collect().head.getAs[Array[Byte]](3))
      st.catalog.createStream("enc-aegis-basin", "nokey")
      val noKey = st.append("enc-aegis-basin", "nokey", AppendInput(Seq(rec("x"))),
        Some(1000)) match {
        case Left(AppendError.EncryptionError(_)) => "missing_key"
        case other => other.toString
      }
      // A13 on the BULK path: the ingest job encrypts executor-side
      // (per-basin cipher x per-call key, same resolution); the
      // decrypting read recovers order + content
      import sp.implicits._
      st.catalog.createStream("enc-aegis-basin", "bulk")
      val bulkDf = (0 until 4).map(i =>
          ("enc-aegis-basin", "bulk", Option(1000L + i), s"bulk-$i".getBytes, i.toLong))
        .toDF("basin", "stream", "ts_client", "body", "arrival")
        .withColumn("headers",
          org.apache.spark.sql.functions.expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"))
        .select("basin", "stream", "ts_client", "headers", "body", "arrival")
      st.ingest(bulkDf, Some(2000L), cipher = Some(key))
      val bulkRows = st.readBatch("enc-aegis-basin", "bulk",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0))), cipher = Some(key)).toOption.get
      val bulkRaw = st.visible("enc-aegis-basin", "bulk").collect().head
      Seq(
        "aegis_roundtrip" -> out(0)._1,
        "aegis_format_id" -> out(0)._2.toString,
        "gcm_roundtrip" -> out(1)._1,
        "gcm_format_id" -> out(1)._2.toString,
        "stored_differs" -> out.map(_._3).mkString(","),
        "wrong_key" -> out.map(_._4).mkString(","),
        "metered_plaintext" -> out.map(_._5).mkString(","),
        "key_without_cipher" -> (if (plainStored == "open") "plaintext" else "encrypted"),
        "cipher_without_key" -> noKey,
        "bulk_roundtrip" -> bulkRows.map(r => new String(r.body)).mkString(","),
        "bulk_format_id" -> bulkRaw.getAs[Array[Byte]](3)(0).toString)
    },

    // R6 — re-chunking caps
    demo("e2e_r6_rechunk", Seq("chunk_sizes" -> "1000,500")) { (_, st) =>
      st.catalog.createStream("demo-basin1", "ch")
      for (_ <- 0 until 2)
        st.append("demo-basin1", "ch", AppendInput(Seq.fill(750)(rec("t"))), Some(1000))
      val chunks = st.readChunked("demo-basin1", "ch",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
      Seq("chunk_sizes" -> chunks.map(_.size).mkString(","))
    },

    // T4 — terminal trim: deletion pending rejects; compact reclaims
    demo("e2e_t4_delete", Seq(
      "append_after_delete" -> "StreamDeletionPending",
      "catalog_after_compact" -> "gone")) { (_, st) =>
      st.catalog.createStream("demo-basin1", "del")
      st.append("demo-basin1", "del", AppendInput(Seq(rec("a"))), Some(1000))
      st.deleteStream("demo-basin1", "del")
      val rejected = st.append("demo-basin1", "del",
        AppendInput(Seq(rec("b"))), Some(1000)) match {
        case Left(AppendError.StreamDeletionPending) => "StreamDeletionPending"
        case other => other.toString
      }
      st.compact("demo-basin1", "del")
      Seq(
        "append_after_delete" -> rejected,
        "catalog_after_compact" ->
          (if (st.catalog.getStream("demo-basin1", "del").isEmpty) "gone" else "present"))
    },

    // C2-C4 — create idempotency, ensure outcomes, reconfigure patch
    demo("e2e_c2_c4_catalog", Seq(
      "create" -> "ok",
      "create_retry_same_token" -> "ok",
      "create_other_token" -> "StreamAlreadyExists",
      "ensure_noop" -> "Noop",
      "ensure_update" -> "Updated",
      "patch_result" -> "infinite")) { (_, st) =>
      def fmt(r: Either[String, _]) = r.fold(identity, _ => "ok")
      val a = st.catalog.createStream("demo-basin1", "c", requestToken = Some("t1"))
      val b = st.catalog.createStream("demo-basin1", "c", requestToken = Some("t1"))
      val c = st.catalog.createStream("demo-basin1", "c", requestToken = Some("t2"))
      val d = st.catalog.ensureStream("demo-basin1", "c", StreamConfig())
      val e = st.catalog.ensureStream("demo-basin1", "c",
        StreamConfig(deleteOnEmpty = Some(DeleteOnEmpty(60))))
      val f = st.catalog.reconfigureStream("demo-basin1", "c",
        StreamConfigPatch(retentionPolicy = Patch.Set(RetentionPolicy.Infinite)))
      Seq(
        "create" -> fmt(a), "create_retry_same_token" -> fmt(b),
        "create_other_token" -> fmt(c),
        "ensure_noop" -> d.toOption.get.toString.replace("EnsureOutcome", ""),
        "ensure_update" -> e.toOption.get.toString,
        "patch_result" -> (f.toOption.get.retentionPolicy match {
          case Some(RetentionPolicy.Infinite) => "infinite"
          case other => other.toString
        }))
    },

    // Declarative catalog apply/diff (cli/src/apply.rs, cli/src/diff.rs):
    // dry-run plans, idempotent re-apply, and the apply.rs:176-178
    // defaults-before-comparison rule (a stored explicit default is
    // "unchanged" against a spec that omits the field).
    demo("e2e_catalog_apply", Seq(
      "dry_run_v1" -> "basin:created,stream/s1:created,stream/s2:created",
      "dry_run_touched_nothing" -> "absent",
      "apply_v1" -> "basin:created,stream/s1:created,stream/s2:created",
      "reapply_v1" -> "basin:unchanged,stream/s1:unchanged,stream/s2:unchanged",
      "stored_default_vs_omitted_spec" -> "unchanged",
      "apply_v2" -> "basin:updated,stream/s1:unchanged,stream/s2:updated,stream/s3:created",
      "v2_basin_diff" -> "create_stream_on_append:false->true",
      "v2_s2_diff" -> "retention_policy:3600s->infinite",
      "v2_s3_create_fields" -> "timestamping.mode:->arrival",
      "merged_s1_retention" -> "7200")) { (_, st) =>
      import graft.log.CatalogApply
      val cat = st.catalog
      def fmt(es: Seq[CatalogApply.Entry]): String = es.map(e =>
        (if (e.kind == "basin") "basin" else s"stream/${e.stream}") +
          s":${e.action}").mkString(",")
      val v1 = CatalogApply.parse(
        """{"basins":[{"name":"apply-basin-01",
          |  "config":{"retention_age_secs":"7200"},
          |  "streams":[
          |    {"name":"s1"},
          |    {"name":"s2","config":{"retention_age_secs":"3600"}}]}]}"""
          .stripMargin)
      val dry = CatalogApply.plan(cat, v1)
      val untouched = if (cat.getBasin("apply-basin-01").isEmpty) "absent" else "created"
      val applied = CatalogApply.apply(cat, v1)
      val reapplied = CatalogApply.apply(cat, v1)
      // stored EXPLICIT default vs omitted spec field: create s-def
      // with the system-default retention spelled out, then plan a
      // spec that says nothing about it — must be unchanged
      cat.createStream("apply-basin-01", "s-def",
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Default)))
      val defPlan = CatalogApply.plan(cat, CatalogApply.parse(
        """{"basins":[{"name":"apply-basin-01",
          |  "config":{"retention_age_secs":"7200"},
          |  "streams":[{"name":"s-def"}]}]}""".stripMargin))
      val v2 = CatalogApply.parse(
        """{"basins":[{"name":"apply-basin-01",
          |  "config":{"retention_age_secs":"7200","create_stream_on_append":"true"},
          |  "streams":[
          |    {"name":"s1"},
          |    {"name":"s2","config":{"retention_age_secs":"infinite"}},
          |    {"name":"s3","config":{"timestamping_mode":"arrival"}}]}]}"""
          .stripMargin)
      val applied2 = CatalogApply.apply(cat, v2)
      Seq(
        "dry_run_v1" -> fmt(dry),
        "dry_run_touched_nothing" -> untouched,
        "apply_v1" -> fmt(applied),
        "reapply_v1" -> fmt(reapplied),
        "stored_default_vs_omitted_spec" ->
          defPlan.find(_.stream == "s-def").map(_.action).getOrElse("missing"),
        "apply_v2" -> fmt(applied2),
        "v2_basin_diff" -> applied2.head.diffString,
        "v2_s2_diff" ->
          applied2.find(_.stream == "s2").map(_.diffString).getOrElse(""),
        "v2_s3_create_fields" ->
          applied2.find(_.stream == "s3").map(_.diffString).getOrElse(""),
        "merged_s1_retention" ->
          (cat.streamConfig("apply-basin-01", "s1").get.retentionPolicy match {
            case Some(RetentionPolicy.Age(s)) => s.toString
            case other => other.toString
          }))
    },

    // C8 — locations: list / get default / set default + reference name
    // rules (lite/src/handlers/v1/locations.rs:1-74, common/src/location.rs:8-45)
    demo("e2e_c8_locations", Seq(
      "register" -> "ok",
      "register_retry" -> "ok",
      "register_conflict" -> "LocationAlreadyExists",
      "list" -> "aws:us-east-1,cloud:US-West-2.edge(private)",
      "default_unset" -> "none",
      "set_default" -> "ok",
      "default_get" -> "aws:us-east-1",
      "set_default_unknown" -> "LocationNotFound",
      "name_underscore" -> "invalid",
      "name_multibyte" -> "invalid",
      "name_too_long" -> "invalid")) { (_, st) =>
      val cat = st.catalog
      def fmt(r: Either[String, LocationInfo]) = r.fold(identity, _ => "ok")
      val reg = fmt(cat.registerLocation("aws:us-east-1"))
      val retry = fmt(cat.registerLocation("aws:us-east-1"))
      val conflict = fmt(cat.registerLocation("aws:us-east-1", isPrivate = true))
      cat.registerLocation("cloud:US-West-2.edge", isPrivate = true)
      val listed = cat.listLocations()
        .map(l => l.name + (if (l.isPrivate) "(private)" else "")).mkString(",")
      val unset = cat.defaultLocation().map(_.name).getOrElse("none")
      val setOk = fmt(cat.setDefaultLocation("aws:us-east-1"))
      val got = cat.defaultLocation().map(_.name).getOrElse("none")
      val unknown = fmt(cat.setDefaultLocation("aws:eu-west-9"))
      def inv(n: String) =
        if (cat.registerLocation(n).swap.exists(_.startsWith("invalid"))) "invalid"
        else "accepted"
      Seq(
        "register" -> reg, "register_retry" -> retry,
        "register_conflict" -> conflict, "list" -> listed,
        "default_unset" -> unset, "set_default" -> setOk,
        "default_get" -> got, "set_default_unknown" -> unknown,
        "name_underscore" -> inv("aws:us_east-1"),
        "name_multibyte" -> inv("aws:é"),
        "name_too_long" -> inv("a" * 65))
    },

    // SQL surface — TableCatalog plugin + batch DSv2 connector +
    // predicate pushdown, end-to-end through spark.sql
    demo("e2e_sql_catalog", Seq(
      "show_tables" -> "orders",
      "count" -> "5",
      "pushdown_seqs" -> "3,4",
      "pruned_partitions" -> "1",
      "ddl_create" -> "true",
      "ddl_drop" -> "true")) { (s, st) =>
      // unique catalog name: Spark caches plugin instances per session
      val cat = "graftsql" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.streaming.source.GraftCatalogPlugin")
      s.conf.set(s"spark.sql.catalog.$cat.root", st.root)
      st.catalog.createStream("demo-basin1", "orders")
      // two files so the pushdown check observes file pruning
      st.append("demo-basin1", "orders",
        AppendInput(Seq(rec("o1"), rec("o2"), rec("o3"))), Some(1000))
      st.append("demo-basin1", "orders",
        AppendInput(Seq(rec("o4"), rec("o5"))), Some(2000))
      val tables = s.sql(s"SHOW TABLES IN $cat.`demo-basin1`")
        .collect().map(_.getString(1)).sorted.mkString(",")
      val cnt = s.sql(s"SELECT count(*) FROM $cat.`demo-basin1`.orders")
        .first().getLong(0)
      val seqs = s.sql(
        s"SELECT seq_num FROM $cat.`demo-basin1`.orders WHERE seq_num >= 3 ORDER BY seq_num")
        .collect().map(_.getLong(0)).mkString(",")
      // unsorted, and on two or more cores the two tiny files plan as
      // two partitions (each costs spark.sql.files.openCostInBytes, the
      // split size here), so 1 proves the seq bound pruned the first
      // file (a sort would let AQE coalesce and mask it)
      val parts = s.sql(
        s"SELECT seq_num FROM $cat.`demo-basin1`.orders WHERE seq_num >= 3")
        .rdd.getNumPartitions
      s.sql(s"CREATE TABLE $cat.`demo-basin1`.clicks")
      val created = st.catalog.getStream("demo-basin1", "clicks").isDefined
      s.sql(s"DROP TABLE $cat.`demo-basin1`.clicks")
      val dropped = st.catalog.getStream("demo-basin1", "clicks").isEmpty
      Seq(
        "show_tables" -> tables, "count" -> cnt.toString,
        "pushdown_seqs" -> seqs, "pruned_partitions" -> parts.toString,
        "ddl_create" -> created.toString, "ddl_drop" -> dropped.toString)
    },

    // C6 — auto-create on append/read gated by basin flags (core.rs:326-391)
    demo("e2e_c6_auto_create", Seq(
      "append_missing_no_flag" -> "StreamNotFound",
      "read_missing_no_flag" -> "StreamNotFound",
      "not_provisioned" -> "true",
      "append_missing_flag" -> "ok:0..1",
      "provisioned_on_append" -> "true",
      "read_missing_flag_rows" -> "0",
      "provisioned_on_read" -> "true")) { (_, st) =>
      st.catalog.createBasin("demo-basin2",
        BasinConfig(
          defaultStreamConfig =
            StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
          createStreamOnAppend = true, createStreamOnRead = true))
      val denied = st.append("demo-basin1", "nope",
        AppendInput(Seq(rec("a"))), Some(1000)) match {
        case Left(AppendError.StreamNotFound) => "StreamNotFound"
        case other => other.toString
      }
      val deniedRead = st.read("demo-basin1", "nope",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))) match {
        case Left(e) if e.startsWith("StreamNotFound") => "StreamNotFound"
        case other => other.toString
      }
      val ok = st.append("demo-basin2", "auto-a",
        AppendInput(Seq(rec("a"))), Some(1000)) match {
        case Right(a) => s"ok:${a.start.seqNum}..${a.end.seqNum}"
        case Left(e) => e.toString
      }
      val readRows = st.read("demo-basin2", "auto-r",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0))))
        .fold(e => e, df => df.count().toString)
      Seq(
        "append_missing_no_flag" -> denied,
        "read_missing_no_flag" -> deniedRead,
        "not_provisioned" ->
          st.catalog.getStream("demo-basin1", "nope").isEmpty.toString,
        "append_missing_flag" -> ok,
        "provisioned_on_append" ->
          st.catalog.getStream("demo-basin2", "auto-a").isDefined.toString,
        "read_missing_flag_rows" -> readRows,
        "provisioned_on_read" ->
          st.catalog.getStream("demo-basin2", "auto-r").isDefined.toString)
    },

    // R7 — unary read merge: limits clamp to one batch (records.rs:72-84)
    demo("e2e_r7_unary_read", Seq(
      "unbounded_clamps_to" -> "1000",
      "first_seq" -> "0",
      "last_seq" -> "999",
      "explicit_count_kept" -> "7")) { (_, st) =>
      st.catalog.createStream("demo-basin1", "u7")
      (0 until 2).foreach(_ => st.append("demo-basin1", "u7",
        AppendInput((0 until 750).map(i => rec(s"r$i"))), Some(1000)))
      val all = st.readUnary("demo-basin1", "u7",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
      val seven = st.readUnary("demo-basin1", "u7",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
          ReadEnd(ReadLimit(count = Some(7))))).toOption.get
      Seq(
        "unbounded_clamps_to" -> all.size.toString,
        "first_seq" -> all.head.seqNum.toString,
        "last_seq" -> all.last.seqNum.toString,
        "explicit_count_kept" -> seven.size.toString)
    },

    // R8 — wait budget armed at tail, reset by batches NOT heartbeats
    // (read.rs:183-240; test matrix read.rs:603-928) on a virtual clock
    demo("e2e_r8_wait_budget", Seq(
      "t0_at_tail" -> "Heartbeat",
      "t10_heartbeat" -> "Heartbeat",
      "t20_batch_resets" -> "Batch(1)",
      "t40_still_open" -> "Heartbeat",
      "t50_expired" -> "Closed(wait_expired)")) { (_, st) =>
      st.catalog.createStream("demo-basin1", "r8")
      var now = 0L
      val s = new graft.streaming.ReadSession(st, "demo-basin1", "r8", 0L,
        graft.model.ReadLimit(), None, Some(30L), () => now, () => 10L)
      def fmt(e: s.Event): String = e match {
        case s.Event.Heartbeat(_) => "Heartbeat"
        case b: s.Event.Batch => s"Batch(${b.records.size})"
        case s.Event.Idle => "Idle"
        case s.Event.Closed(r) => s"Closed($r)"
      }
      val t0 = fmt(s.poll()) // arm deadline at 30
      now = 10
      val t10 = fmt(s.poll()) // heartbeat cadence; must NOT extend wait
      now = 20
      st.append("demo-basin1", "r8", AppendInput(Seq(rec("x"))), Some(1000))
      val t20 = fmt(s.poll()) // batch -> deadline resets to 50
      now = 40
      val t40 = fmt(s.poll()) // original deadline passed; still open
      now = 50
      val t50 = fmt(s.poll())
      Seq("t0_at_tail" -> t0, "t10_heartbeat" -> t10,
        "t20_batch_resets" -> t20, "t40_still_open" -> t40,
        "t50_expired" -> t50)
    },

    // R9 — checkpointed resumption: a restarted follower delivers ONLY
    // records after its last committed offset (Last-Event-ID semantics,
    // records.rs:49-65), end-to-end through the DSv2 source
    demo("e2e_r9_resume", Seq(
      "first_run" -> "0,1,2",
      "new_after_restart" -> "3,4",
      "no_duplicates" -> "true")) { (sp, st) =>
      st.catalog.createStream("demo-basin1", "r9")
      st.append("demo-basin1", "r9",
        AppendInput(Seq(rec("a"), rec("b"), rec("c"))), Some(1000))
      def run(): Seq[Long] = {
        val q = sp.readStream.format("graft-stream")
          .option("root", st.root).option("basin", "demo-basin1")
          .option("stream", "r9").load()
          .writeStream.format("parquet")
          .option("path", s"${st.root}/_r9sink")
          .option("checkpointLocation", s"${st.root}/_r9ckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        sp.read.parquet(s"${st.root}/_r9sink").select("seq_num")
          .collect().map(_.getLong(0)).toSeq.sorted
      }
      val first = run()
      st.append("demo-basin1", "r9", AppendInput(Seq(rec("d"), rec("e"))), Some(2000))
      val second = run()
      Seq(
        "first_run" -> first.mkString(","),
        "new_after_restart" -> (second.toSet -- first.toSet).toSeq.sorted.mkString(","),
        "no_duplicates" -> (second.size == second.distinct.size).toString)
    },

    // Streaming exact dedup: a followed stream piped through
    // `dropDuplicates` on the record body — the Structured-Streaming
    // counterpart of dedup_exact, with dedup STATE owned by the state
    // store and carried across query restarts by the checkpoint. The
    // second run replays bodies already seen in the first ("c", "a")
    // and must emit only the genuinely new "d": both the source's
    // resume offset AND the dedup state survive the restart. At scale
    // the state is hash-partitioned by key across executors and
    // BOUNDED by the record-timestamp watermark (dedupWithinHorizon)
    // — keys older than the horizon are evicted, so a forever tail
    // holds only one horizon's worth of keys in state.
    demo("e2e_stream_dedup", Seq(
      "first_run_distinct" -> "a,b,c",
      "second_run_new" -> "d",
      "no_duplicates_total" -> "true")) { (sp, st) => withDemoPartitions(sp) {
      st.catalog.createStream("demo-basin1", "sd")
      st.append("demo-basin1", "sd",
        AppendInput(Seq(rec("a"), rec("b"), rec("a"), rec("c"),
          rec("b"), rec("a"))), Some(1000))
      def run(): Seq[String] = {
        val src = sp.readStream.format("graft-stream")
          .option("root", st.root).option("basin", "demo-basin1")
          .option("stream", "sd").load()
          .selectExpr("CAST(body AS STRING) AS body",
            "timestamp_millis(timestamp) AS ev_ts")
        val q = dedupWithinHorizon(src, "body")
          .select("body")
          .writeStream.format("parquet")
          .option("path", s"${st.root}/_sdsink")
          .option("checkpointLocation", s"${st.root}/_sdckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        sp.read.parquet(s"${st.root}/_sdsink").select("body")
          .collect().map(_.getString(0)).toSeq.sorted
      }
      val first = run()
      st.append("demo-basin1", "sd",
        AppendInput(Seq(rec("c"), rec("d"), rec("a"))), Some(2000))
      val second = run()
      Seq(
        "first_run_distinct" -> first.mkString(","),
        "second_run_new" -> (second.toSet -- first.toSet).toSeq.sorted.mkString(","),
        "no_duplicates_total" -> (second.size == second.distinct.size).toString)
    }},

    // Streaming NORMALIZE-then-dedup: the Unicode cleaning stage
    // running live IN FRONT of frontier dedup, sharing
    // CurationOps.nfcClean with the batch text_nfc_normalize operator
    // (same shared-rule pattern as the URL canon chain — the live
    // path can never drift from the batch-audited normalization).
    // The teeth: "café menu" arrives three ways — precomposed é,
    // e+combining-acute, and the decomposed form with a zero-width
    // space — which are THREE DIFFERENT byte strings (raw
    // dropDuplicates keeps all three) but one visible text; after
    // nfcClean they must collapse to ONE kept row, and a fourth
    // spelling arriving after a checkpoint restart must still be
    // dropped, proving the normalized key is what lives in the state
    // store.
    demo("e2e_stream_normalize_dedup", Seq(
      "first_run_kept_count" -> "2",
      "all_precomposed_no_zw" -> "true",
      "second_run_new" -> "fresh doc",
      "variant_dropped_across_restart" -> "true")) { (sp, st) =>
      withDemoPartitions(sp) {
      st.catalog.createStream("demo-basin1", "sn")
      val acute = 769.toChar.toString
      val zw = CurationOps.ZeroWidthSpace // the SHARED strip set's char
      val pre = "caf" + 233.toChar + " menu"      // precomposed é
      val dec = "cafe" + acute + " menu"          // e + combining acute
      val zwv = "cafe" + acute + " menu" + zw     // decomposed + zero-width
      val fourth = pre + zw                       // NEVER sent in run 1:
      // byte-distinct from all three first-run spellings, so raw
      // exact-dedup would KEEP it — only normalized-key state drops it
      st.append("demo-basin1", "sn",
        AppendInput(Seq(rec(pre), rec(dec), rec("plain doc"), rec(zwv))),
        Some(1000))
      def run(): Seq[String] = {
        import sp.implicits._
        val src = sp.readStream.format("graft-stream")
          .option("root", st.root).option("basin", "demo-basin1")
          .option("stream", "sn").load()
          .selectExpr("CAST(body AS STRING) AS body",
            "timestamp_millis(timestamp) AS ev_ts")
          .as[(String, java.sql.Timestamp)]
          .map { case (b, t) => (CurationOps.nfcClean(b), t) }
          .toDF("clean", "ev_ts")
        val q = dedupWithinHorizon(src, "clean")
          .select("clean")
          .writeStream.format("parquet")
          .option("path", s"${st.root}/_snsink")
          .option("checkpointLocation", s"${st.root}/_snckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        sp.read.parquet(s"${st.root}/_snsink").select("clean")
          .collect().map(_.getString(0)).toSeq.sorted
      }
      val first = run()
      st.append("demo-basin1", "sn",
        AppendInput(Seq(rec(fourth), rec("fresh doc"))), Some(2000))
      val second = run()
      Seq(
        "first_run_kept_count" -> first.size.toString,
        "all_precomposed_no_zw" -> first.forall(s =>
          s == java.text.Normalizer.normalize(
            s, java.text.Normalizer.Form.NFC) &&
          !s.contains(acute) && !s.contains(zw)).toString,
        "second_run_new" -> (second.toSet -- first.toSet).mkString(","),
        "variant_dropped_across_restart" ->
          (second.size == first.size + 1).toString)
    }},

    // Streaming IMAGE dedup: the image-modality member of the live
    // dedup family, sharing BmpDHashDecoder with the batch
    // mm12_image_phash operator (the shared-rule pattern again — the
    // live perceptual key can never drift from the batch-audited
    // one). The teeth: pattern A arrives twice as BYTE-DISTINCT files
    // — bottom-up and top-down row order, the container-level
    // re-encode exact-byte dedup misses — but identical pixels give
    // identical dHash, so state keeps one; and a re-encoded copy of C
    // arriving after a checkpoint restart is still dropped, proving
    // the perceptual hash is what lives in the state store.
    demo("e2e_stream_image_dedup", Seq(
      "reencode_same_hash" -> "true",
      "first_run_kept" -> "3",
      "second_run_new" -> "1",
      "reencoded_dropped_across_restart" -> "true")) { (sp, st) =>
      withDemoPartitions(sp) {
      st.catalog.createStream("demo-basin1", "img")
      import graft.extras.Multimodal
      def img(c: Int, topDown: Boolean = false) = Multimodal.ImageBytes
        .bmpQuad(16, 16, 1 + c % 5, 1 + c % 7, c % 3, 11 * c, 0, topDown)
      val dec = new Multimodal.BmpDHashDecoder()
      st.append("demo-basin1", "img", AppendInput(Seq(
        EnvelopeRecord(Nil, img(1)),
        EnvelopeRecord(Nil, img(1, topDown = true)), // re-encoded A
        EnvelopeRecord(Nil, img(2)),
        EnvelopeRecord(Nil, img(3)))), Some(1000))
      def run(): Seq[Long] = {
        // the decoder's passthrough id column carries the record's
        // ms clock so the perceptual key can be watermark-bounded
        val src = Multimodal.decodeBmpDHash(
            sp.readStream.format("graft-stream")
              .option("root", st.root).option("basin", "demo-basin1")
              .option("stream", "img").load()
              .selectExpr("timestamp", "body"),
            "body", "timestamp")
          .where(org.apache.spark.sql.functions.col("ok"))
          .selectExpr("hash", "timestamp_millis(timestamp) AS ev_ts")
        val q = dedupWithinHorizon(src, "hash")
          .select("hash")
          .writeStream.format("parquet")
          .option("path", s"${st.root}/_imgsink")
          .option("checkpointLocation", s"${st.root}/_imgckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        sp.read.parquet(s"${st.root}/_imgsink")
          .collect().map(_.getLong(0)).toSeq.sorted
      }
      val first = run()
      st.append("demo-basin1", "img", AppendInput(Seq(
        EnvelopeRecord(Nil, img(3, topDown = true)), // re-encoded C
        EnvelopeRecord(Nil, img(7)))), Some(2000))   // genuinely new
      val second = run()
      Seq(
        "reencode_same_hash" ->
          (dec.decode(img(1)).hash == dec.decode(img(1, topDown = true)).hash).toString,
        "first_run_kept" -> first.size.toString,
        "second_run_new" -> (second.toSet -- first.toSet).size.toString,
        "reencoded_dropped_across_restart" ->
          (second.toSet.contains(dec.decode(img(7)).hash) &&
            second.size == first.size + 1).toString)
    }},

    // Streaming MODALITY-ROUTED dedup: the live form of
    // mm15_modality_router + per-modality fingerprint dedup in one
    // stateful stream. Mixed blobs (image/audio/junk) arrive on one
    // stream; the SAME FingerprintRouter the batch query uses sniffs
    // and fingerprints each, junk passes through as ok=false marker
    // rows (never dropped silently) keyed by a CONTENT hash — so two
    // DIFFERENT junk blobs both survive (fp=constant would
    // cross-collapse all junk onto the first marker) while a re-sent
    // identical junk blob still drops — and the watermarked dedup on
    // (modality, fp) collapses a brightness-regraded image copy and a
    // volume-regraded audio copy onto their originals — across a
    // checkpoint restart.
    demo("e2e_stream_router_dedup", Seq(
      "first_run_kept" -> "audio:1,image:1,unknown:2",
      "regrades_collapsed" -> "true",
      "second_run_new" -> "image:1,unknown:1",
      "junk_not_cross_collapsed_exact_junk_dropped" -> "true",
      "regrade_dropped_across_restart" -> "true")) { (sp, st) =>
      withDemoPartitions(sp) {
      st.catalog.createStream("demo-basin1", "mx")
      import graft.extras.Multimodal
      // flat pattern: wrap-free, so a regrade has the IDENTICAL hash
      def img(c: Int, delta: Int) = Multimodal.ImageBytes
        .bmpQuad(9, 8, 0, 0, 0, 10 + c, delta)
      // curved pattern: structurally distinct from the flat family
      // (all flat images share one dHash — gradients never flip)
      val imgNew = Multimodal.ImageBytes.bmpQuad(9, 8, 2, 3, 1, 10, 0)
      def aud(pid: Long, gain: Int) = Multimodal.AudioBytes
        .wavPcmScaled(8000, 1, 100, pid, gain, 61 + 13 * pid)
      st.append("demo-basin1", "mx", AppendInput(Seq(
        EnvelopeRecord(Nil, img(1, 0)),
        EnvelopeRecord(Nil, img(1, 20)),       // regraded copy of image 1
        EnvelopeRecord(Nil, aud(5, 1)),
        EnvelopeRecord(Nil, aud(5, 4)),        // volume-regraded copy
        EnvelopeRecord(Nil, "junk!".getBytes),
        EnvelopeRecord(Nil, "junk?".getBytes))), Some(1000)) // DIFFERENT junk
      def run(): Seq[(String, Long)] = {
        val src = Multimodal.decodeRoutedFingerprint(
            sp.readStream.format("graft-stream")
              .option("root", st.root).option("basin", "demo-basin1")
              .option("stream", "mx").load()
              .selectExpr("timestamp", "body"),
            "body", "timestamp", videoSampleEvery = 2)
          .selectExpr("modality", "fp",
            "timestamp_millis(timestamp) AS ev_ts")
        val q = dedupWithinHorizon(src, "modality", "fp")
          .selectExpr("modality", "fp")
          .writeStream.format("parquet")
          .option("path", s"${st.root}/_mxsink")
          .option("checkpointLocation", s"${st.root}/_mxckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        sp.read.parquet(s"${st.root}/_mxsink")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      }
      def byModality(rows: Seq[(String, Long)]): String =
        rows.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (m, xs) => s"$m:${xs.size}" }.mkString(",")
      val dec = new Multimodal.FingerprintRouter(2)
      val first = run()
      st.append("demo-basin1", "mx", AppendInput(Seq(
        EnvelopeRecord(Nil, aud(5, 8)),        // third regrade of the audio
        EnvelopeRecord(Nil, "junk!".getBytes), // SAME junk re-sent -> drop
        EnvelopeRecord(Nil, "junk#".getBytes), // fresh junk -> keep
        EnvelopeRecord(Nil, imgNew))), Some(2000)) // genuinely new image
      val second = run()
      Seq(
        "first_run_kept" -> byModality(first),
        "regrades_collapsed" ->
          (dec.decode(img(1, 0)).fp == dec.decode(img(1, 20)).fp &&
            dec.decode(aud(5, 1)).fp == dec.decode(aud(5, 4)).fp).toString,
        "second_run_new" -> byModality((second.toSet -- first.toSet).toSeq),
        "junk_not_cross_collapsed_exact_junk_dropped" ->
          (second.count(_._1 == "unknown") == 3 &&
            dec.decode("junk!".getBytes).fp != dec.decode("junk?".getBytes).fp).toString,
        "regrade_dropped_across_restart" ->
          (second.size == first.size + 2).toString)
    }},

    // Streaming NEAR-dup dedup: the streaming complement of
    // dedup_minhash_lsh. Each followed record computes its full
    // 16-min-hash signature SCALAR-side (per-record expressions — no
    // aggregation, so it composes with any downstream streaming op)
    // over TextOps.shingleArray — the SAME adaptive word/char rule
    // the whole batch dedup family tokenizes with, so a space-free
    // (CJK) body shingles by character 5-grams in the live path too —
    // with the exact seed scheme of the batch pipeline (4 md5 seeds
    // x 4 8-char slices, banded 4x4), then watermark-bounded dedup on
    // the 4 band keys: all-bands collision = the strongest LSH match.
    // Degenerate bodies (under 5 chars: EMPTY shingle array, hence
    // all-null signatures that would collide every tiny doc onto the
    // first) fall back to an exact raw-body key instead — exact-dedup
    // semantics for inputs too small to shingle, never cross-collapse.
    // The teeth: "a b c a b c a b c" is DIFFERENT TEXT from the
    // earlier "a b c a b c" but has the IDENTICAL 3-gram shingle SET,
    // hence identical signature — dropped as a near-dup ACROSS A
    // RESTART; the period-3 CJK body repeated once more has the
    // identical char-5-gram SET — dropped the same way through the
    // char branch; "hi"/"yo" are degenerate and must both survive.
    // At 100 TB the state is hash-partitioned by band key across
    // executors and BOUNDED by the dedupWithinHorizon watermark.
    demo("e2e_stream_dedup_minhash", Seq(
      "first_run_kept" ->
        "a b c a b c|alpha one two three four|hi|papa q r s t|学习中学习中学习中",
      "second_run_new" -> "yo|zulu fresh doc here",
      "near_dup_dropped_across_restart" -> "true",
      "cjk_near_dup_dropped_across_restart" -> "true",
      "degenerate_not_cross_collapsed" -> "true",
      "exact_dup_dropped" -> "true")) { (sp, st) => withDemoPartitions(sp) {
      st.catalog.createStream("demo-basin1", "sm")
      val minExprs = (0 until 16).map(i =>
        s"""array_min(transform(sh, x ->
            substr(md5(concat('${i / 4}:', x)), ${1 + 8 * (i % 4)}, 8))) AS h$i""")
      val bandExprs = (0 until 4).map(b =>
        s"""CASE WHEN size(sh) = 0 THEN concat('raw:', body)
            ELSE md5(concat_ws('|', h${4 * b}, h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3}))
            END AS b$b""")
      def run(): Seq[String] = {
        import org.apache.spark.sql.functions.{col, split}
        val src = sp.readStream.format("graft-stream")
          .option("root", st.root).option("basin", "demo-basin1")
          .option("stream", "sm").load()
          .selectExpr("CAST(body AS STRING) AS body",
            "timestamp_millis(timestamp) AS ev_ts")
          .selectExpr("body", "ev_ts", "split(body, ' ') AS w")
          .withColumn("sh", TextOps.shingleArray(col("body"), col("w")))
          .selectExpr(Seq("body", "ev_ts", "sh") ++ minExprs: _*)
          .selectExpr(Seq("body", "ev_ts", "sh") ++ bandExprs: _*)
        val q = dedupWithinHorizon(src, "b0", "b1", "b2", "b3")
          .select("body")
          .writeStream.format("parquet")
          .option("path", s"${st.root}/_smsink")
          .option("checkpointLocation", s"${st.root}/_smckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        sp.read.parquet(s"${st.root}/_smsink").select("body")
          .collect().map(_.getString(0)).toSeq.sorted
      }
      st.append("demo-basin1", "sm", AppendInput(Seq(
        rec("alpha one two three four"),
        rec("a b c a b c"),
        rec("alpha one two three four"), // exact dup -> dropped
        rec("学习中学习中学习中"),          // space-free: char-gram branch
        rec("hi"),                        // degenerate: raw-key branch
        rec("papa q r s t"))), Some(1000))
      val first = run()
      st.append("demo-basin1", "sm", AppendInput(Seq(
        rec("a b c a b c a b c"), // near-dup: same shingle SET, new text
        rec("学习中学习中学习中学习中"), // CJK near-dup: same char-gram SET
        rec("zulu fresh doc here"),
        rec("hi"),                // degenerate exact dup across restart
        rec("yo"),                // degenerate but NEW: must be kept
        rec("papa q r s t"))), Some(2000)) // exact dup across restart
      val second = run()
      Seq(
        "first_run_kept" -> first.mkString("|"),
        "second_run_new" -> (second.toSet -- first.toSet).toSeq.sorted.mkString("|"),
        "near_dup_dropped_across_restart" ->
          (!second.contains("a b c a b c a b c")).toString,
        "cjk_near_dup_dropped_across_restart" ->
          (!second.contains("学习中学习中学习中学习中") &&
            second.count(_ == "学习中学习中学习中") == 1).toString,
        "degenerate_not_cross_collapsed" ->
          (second.count(_ == "hi") == 1 && second.count(_ == "yo") == 1).toString,
        "exact_dup_dropped" ->
          (second.count(_ == "papa q r s t") == 1 &&
            second.count(_ == "alpha one two three four") == 1).toString)
    }},

    // Streaming URL-frontier dedup — the first dedup of a live
    // crawler: fetched URLs arrive as a stream, each is canonicalized
    // IN-STREAM with the exact same expression chain as the batch
    // dedup_url operator (CurationOps.canonUrlExpr — one definition,
    // two tiers), and `dropDuplicates` on the canonical form keeps
    // the frontier unique. The teeth: page A returns under a
    // DIFFERENT variant spelling (tracking params vs uppercase host)
    // after a checkpoint restart and must still be dropped — the
    // canonical key lives in the checkpointed state store, proving
    // dedup state survives spelling churn AND restarts. At 100 TB
    // the state is hash-partitioned by canonical key and BOUNDED by
    // the dedupWithinHorizon watermark (a crawl frontier's natural
    // revisit horizon); the demo's pinned clocks stay inside it.
    demo("e2e_stream_url_dedup", Seq(
      "first_run_pages" -> "pageA,pageB",
      "second_run_new" -> "pageC",
      "variant_respelling_dropped_across_restart" -> "true")) { (sp, st) =>
      withDemoPartitions(sp) {
      st.catalog.createStream("demo-basin1", "ud")
      def page(c: String) = s"https://www.site.example.com/p/$c"
      def run(): Seq[String] = {
        val src = sp.readStream.format("graft-stream")
          .option("root", st.root).option("basin", "demo-basin1")
          .option("stream", "ud").load()
          .selectExpr("CAST(body AS STRING) AS raw",
            "timestamp_millis(timestamp) AS ev_ts")
          .selectExpr("ev_ts",
            s"${CurationOps.canonUrlExpr("raw")} AS canon")
        val q = dedupWithinHorizon(src, "canon")
          .select("canon")
          .writeStream.format("parquet")
          .option("path", s"${st.root}/_udsink")
          .option("checkpointLocation", s"${st.root}/_udckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        sp.read.parquet(s"${st.root}/_udsink").select("canon")
          .collect().map(_.getString(0)).toSeq.sorted
      }
      st.append("demo-basin1", "ud", AppendInput(Seq(
        rec(page("pageA") + "?utm_source=feed"),      // pageA, tracked
        rec(page("pageB") + "#frag"),                 // pageB, fragment
        rec(page("pageA") + "/index.html"))),         // pageA again
        Some(1000))
      val first = run()
      st.append("demo-basin1", "ud", AppendInput(Seq(
        rec("HTTPS://WWW.SITE.EXAMPLE.COM/p/pageA"),  // pageA respelled
        rec("https://www.site.example.com:443/p/pageB"), // pageB, default port
        rec(page("pageC")))),                         // genuinely new
        Some(2000))
      val second = run()
      Seq(
        "first_run_pages" ->
          first.map(_.split('/').last).sorted.mkString(","),
        "second_run_new" ->
          (second.toSet -- first.toSet).map(_.split('/').last).toSeq
            .sorted.mkString(","),
        "variant_respelling_dropped_across_restart" ->
          (second.count(_.endsWith("pageA")) == 1).toString)
    }},

    // Streaming INDEX-PROBE dedup — the second half of the bounded
    // live-dedup story. dedupWithinHorizon bounds the in-flight state
    // to one time horizon; this demo covers the FULL HISTORY beyond
    // that horizon the production way: the already-ingested corpus is
    // folded once (batch) into the O(m)-bit Bloom position set of
    // dedup_bloom — the SAME PipelineOps.bloomPositions rule, one
    // definition, two tiers — and the stream probes it statelessly
    // per record. A body from the historical corpus is dropped by the
    // probe alone (no state-store entry exists or is created for it,
    // across any number of restarts); only genuinely-fresh bodies
    // enter the watermarked in-flight dedup. Net state at 100 TB:
    // O(m) broadcast bits for all of history + one horizon of fresh
    // keys — never proportional to the stream's lifetime.
    //
    // TRADEOFF (explicit, ADVICE r12): a Bloom probe-hit is a
    // PROBABLE dup — a genuinely fresh body whose k positions all
    // collide with history is dropped, i.e. this tier trades a
    // bounded false-positive rate (m/n sized for ~1e-4 at the batch
    // tier) for statelessness. dedup_bloom, the batch twin, shows the
    // lossless variant: verify probe-hits against the corpus with an
    // exact anti-join. A stream needing losslessness runs the same
    // verification as a second stage — probe-hits are a trickle
    // (dup-rate + FP-rate of arrivals), so the verify join is tiny —
    // at the cost of a per-microbatch lookup against the corpus.
    demo("e2e_stream_bloom_probe", Seq(
      "kept" -> "new-x|new-y|new-z",
      "historical_dropped_by_probe_alone" -> "true",
      "in_flight_dup_dropped_across_restart" -> "true")) { (sp, st) =>
      withDemoPartitions(sp) {
      st.catalog.createStream("demo-basin1", "bp")
      import sp.implicits._
      import org.apache.spark.sql.functions.{array_except, col, explode, size, typedlit}
      // batch tier: the historical corpus's set bit positions (≤ m
      // rows regardless of corpus size — that is the whole point)
      val histBits = Seq("hist-a", "hist-b", "hist-c").toDF("text")
        .select(explode(PipelineOps.bloomPositions(col("text"))).as("p"))
        .distinct().as[Long].collect().toSeq.sorted
      def run(): Seq[String] = {
        val src = sp.readStream.format("graft-stream")
          .option("root", st.root).option("basin", "demo-basin1")
          .option("stream", "bp").load()
          .selectExpr("CAST(body AS STRING) AS body",
            "timestamp_millis(timestamp) AS ev_ts")
          // stateless probe: all k positions set => probable
          // historical dup, dropped before any state is touched
          .where(size(array_except(
            PipelineOps.bloomPositions(col("body")),
            typedlit(histBits))) > 0)
        val q = dedupWithinHorizon(src, "body")
          .select("body")
          .writeStream.format("parquet")
          .option("path", s"${st.root}/_bpsink")
          .option("checkpointLocation", s"${st.root}/_bpckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        sp.read.parquet(s"${st.root}/_bpsink").select("body")
          .collect().map(_.getString(0)).toSeq.sorted
      }
      st.append("demo-basin1", "bp", AppendInput(Seq(
        rec("hist-a"),   // historical: probe drops, statelessly
        rec("new-x"), rec("new-x"),  // fresh + in-flight dup
        rec("new-y"))), Some(1000))
      val first = run()
      st.append("demo-basin1", "bp", AppendInput(Seq(
        rec("hist-b"),   // historical, never seen by THIS stream:
                         // only the index can drop it
        rec("new-x"),    // in-flight dup across the restart
        rec("new-z"))), Some(2000))
      val second = run()
      Seq(
        "kept" -> second.sorted.mkString("|"),
        "historical_dropped_by_probe_alone" ->
          (!second.exists(_.startsWith("hist"))).toString,
        "in_flight_dup_dropped_across_restart" ->
          (second.count(_ == "new-x") == 1).toString)
    }},

    // GATE-BEFORE-STATE ordering proof — the complement of
    // e2e_stream_quality_gate (which serves the TRAINED model
    // statelessly): here the HEURISTIC gate shares text_quality's
    // exact keep rule (TextOps.qualityTokStop/qualityKeepExpr — one
    // definition, two tiers) and runs IN FRONT of the stateful
    // dedup, so rejected docs never consume dedup state. The teeth
    // measure the ordering directly: the state-store row count
    // equals the count of KEPT distinct docs, not of all arrivals —
    // at 100 TB, gating after the state op would grow state with
    // every spam doc ever seen.
    demo("e2e_stream_gate_before_state", Seq(
      "first_run_kept" -> "2",
      "state_rows_equal_kept_not_arrivals" -> "2",
      "dup_keeper_dropped_across_restart" -> "true",
      "second_run_new" -> "1",
      "second_state_rows" -> "3")) { (sp, st) => withDemoPartitions(sp) {
      st.catalog.createStream("demo-basin1", "qg")
      import org.apache.spark.sql.functions.{col, round}
      def keeper(tag: String): String =
        (Seq(tag) ++ (1 to 21).map(i => s"$tag-w$i")).mkString(" ")
      val stoppy = // 20 tokens, half stopwords -> ratio 0.5, NOT < 0.5
        (Seq.fill(2)(Seq("the", "a", "and", "of", "to")).flatten
          ++ (1 to 10).map(i => s"s$i")).mkString(" ")
      def run(): (Seq[String], Long) = {
        val src0 = sp.readStream.format("graft-stream")
          .option("root", st.root).option("basin", "demo-basin1")
          .option("stream", "qg").load()
          .selectExpr("CAST(body AS STRING) AS body",
            "timestamp_millis(timestamp) AS ev_ts")
        val (nTok, nStop) = TextOps.qualityTokStop(col("body"))
        val gated = src0
          .withColumn("n_tokens", nTok)
          .withColumn("stop_ratio",
            round(nStop.cast(org.apache.spark.sql.types.DoubleType)
              / nTok, 6))
          .where(TextOps.qualityKeepExpr(col("n_tokens"), col("stop_ratio")))
        val q = dedupWithinHorizon(gated, "body")
          .select("body")
          .writeStream.format("parquet")
          .option("path", s"${st.root}/_qgsink")
          .option("checkpointLocation", s"${st.root}/_qgckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        val stateRows = q.recentProgress.toSeq
          .flatMap(_.stateOperators).lastOption
          .map(_.numRowsTotal).getOrElse(-1L)
        (sp.read.parquet(s"${st.root}/_qgsink").select("body")
          .collect().map(_.getString(0)).toSeq.sorted, stateRows)
      }
      st.append("demo-basin1", "qg", AppendInput(Seq(
        rec(keeper("ka")),
        rec("too short doc"),        // gate: under 20 tokens
        rec(keeper("ka")),           // dup of a keeper (in-batch)
        rec(stoppy),                 // gate: stop ratio not under 0.5
        rec(keeper("kb")))), Some(1000))
      val (first, state1) = run()
      st.append("demo-basin1", "qg", AppendInput(Seq(
        rec(keeper("ka")),           // keeper dup across the restart
        rec(keeper("kc")),           // genuinely new keeper
        rec(stoppy + " the"))), Some(2000)) // 11/21 stopwords: still gated
      val (second, state2) = run()
      Seq(
        "first_run_kept" -> first.size.toString,
        "state_rows_equal_kept_not_arrivals" -> state1.toString,
        "dup_keeper_dropped_across_restart" ->
          (second.count(_ == keeper("ka")) == 1).toString,
        "second_run_new" -> (second.toSet -- first.toSet).size.toString,
        "second_state_rows" -> state2.toString)
    }},

    // Follow-during-compaction: a streaming follower keeps running
    // while compact() PHYSICALLY rewrites the stream it reads (trim
    // mask -> range-partitioned rewrite into the NEXT generation
    // directory -> manifest generation flip, CAS'd). The commit is a
    // pointer flip, never a path move, so a reader plan created
    // before the flip keeps its old-generation file paths — this demo
    // proves exactly that: it snapshots the pre-compact generation's
    // file list (what an in-flight microbatch would hold), compacts
    // WITHOUT quiescing the live follower, and then (a) re-reads the
    // snapshotted old paths byte-for-byte (racing plans survive), (b)
    // shows the follower delivering exactly the new records — no
    // duplicates from rewritten files, no gaps — while new appends
    // land in the new generation, (c) restarts from the checkpoint
    // planning purely over the compacted generation, (d) starts a
    // FRESH follower from seq 0 that clamps at the trim point, and
    // (e) sweeps old generations with grace 0 and checks min(seq_num)
    // in the surviving layout equals the trim point — mask made
    // physical. This is the e2e companion of GenerationSpec.
    demo("e2e_stream_during_compact", Seq(
      "first_run" -> "r0,r1,r2,r3",
      "after_compact_new" -> "r4,r5,r6",
      "old_gen_paths_survive_flip" -> "true",
      "restart_in_compacted_layout" -> "r7",
      "delivered_exactly_once" -> "true",
      "fresh_follower_skips_trimmed" -> "r2,r3,r4,r5,r6,r7",
      "physically_reclaimed" -> "true")) { (sp, st) => withDemoPartitions(sp) {
      st.catalog.createStream("demo-basin1", "cp")
      def genDir: String = Layout.genDir(st.root, "demo-basin1", "cp",
        st.manifest("demo-basin1", "cp").generation)
      def appendRecs(names: Seq[String], ts: Long): Unit =
        st.append("demo-basin1", "cp",
          AppendInput(names.map(rec)), Some(ts)).fold(
          e => throw new IllegalStateException(e.toString), identity)
      def follower(sink: String, ckpt: String) =
        sp.readStream.format("graft-stream")
          .option("root", st.root).option("basin", "demo-basin1")
          .option("stream", "cp").load()
          // R10: command records (single empty-name header) are
          // control-plane, not data
          .where(Visibility.notCommand)
          .selectExpr("CAST(body AS STRING) AS body")
          .writeStream.format("parquet")
          .option("path", s"${st.root}/$sink")
          .option("checkpointLocation", s"${st.root}/$ckpt")
          .outputMode("append").start()
      def sinkBodies(sink: String): Seq[String] =
        sp.read.parquet(s"${st.root}/$sink").select("body")
          .collect().map(_.getString(0)).toSeq.sorted

      appendRecs(Seq("r0", "r1", "r2", "r3"), 1000) // seqs 0..3
      val q = follower("_cpsink", "_cpckpt")
      val first = try {
        q.processAllAvailable()
        val f = sinkBodies("_cpsink")
        // the follower query object stays LIVE across all of this:
        st.append("demo-basin1", "cp",
          AppendInput(Seq(TrimCommand(2L))), Some(1500)) // seq 4
        // snapshot what an in-flight microbatch planned RIGHT NOW
        // would hold: concrete old-generation file paths. No drain —
        // the trim command (seq 4) is still undelivered when the
        // rewrite lands, and the follower's next batch must bridge
        // the flip without loss or duplication.
        val oldPaths = graft.log.FileIndex.listStats(genDir).map(_.path)
        val oldRows = oldPaths.map(p =>
          sp.read.parquet(p).count()).sum
        st.compact("demo-basin1", "cp")   // generation flip, follower live
        // racing plans survive: every pre-flip path still opens and
        // holds the same rows it did before the flip
        val survived = oldPaths.nonEmpty &&
          oldPaths.map(p => sp.read.parquet(p).count()).sum == oldRows
        appendRecs(Seq("r4", "r5"), 2000)                // seqs 5, 6
        appendRecs(Seq("r6"), 3000)                      // seq 7, new layout
        q.processAllAvailable()
        (f, survived)
      } finally q.stop()
      val (firstRun, oldGenSurvived) = first
      val afterCompact = sinkBodies("_cpsink")
      // physical reclaim: after the grace-0 sweep only the compacted
      // generation remains, and its files no longer hold seqs < 2
      st.sweepOldGens("demo-basin1", "cp", graceMs = 0L)
      val minOnDisk = sp.read.parquet(genDir)
        .selectExpr("min(seq_num)").collect().head.getLong(0)
      // restart from the checkpoint, now planning over compacted files
      appendRecs(Seq("r7"), 4000) // seq 8
      val q2 = follower("_cpsink", "_cpckpt")
      try q2.processAllAvailable() finally q2.stop()
      val afterRestart = sinkBodies("_cpsink")
      // a brand-new follower resolves its start AT the trim point
      val q3 = follower("_cpsink2", "_cpckpt2")
      try q3.processAllAvailable() finally q3.stop()
      val fresh = sinkBodies("_cpsink2")
      Seq(
        "first_run" -> firstRun.mkString(","),
        "after_compact_new" ->
          (afterCompact.toSet -- firstRun.toSet).toSeq.sorted.mkString(","),
        "old_gen_paths_survive_flip" -> oldGenSurvived.toString,
        "restart_in_compacted_layout" ->
          (afterRestart.toSet -- afterCompact.toSet).toSeq.sorted.mkString(","),
        "delivered_exactly_once" ->
          (afterRestart.size == afterRestart.distinct.size &&
            afterRestart.size == 8).toString,
        "fresh_follower_skips_trimmed" -> fresh.mkString(","),
        "physically_reclaimed" -> (minOnDisk == 2L).toString)
    }},

    // Streaming watermarked windowed aggregation: 10-second tumbling
    // counts over a followed stream's record timestamps with a
    // 5-second watermark, append output mode. Record times are pinned
    // via the append clock (arrival timestamping under client-prefer),
    // so window membership is exact: batches at t=1s (x3), t=12s (x2)
    // and t=25s (x1) put the final watermark at 20s — the [0,10) and
    // [10,20) windows are FINALIZED and emitted to the sink, while the
    // still-open [20,30) window is held in state, never emitted. This
    // is the watermark contract a 100 TB streaming pipeline leans on:
    // state for closed windows is dropped, late data beyond the
    // watermark is discarded, and only finalized results reach the
    // sink.
    demo("e2e_stream_window", Seq(
      "emitted" -> "0-10:3,10-20:2",
      "open_window_held" -> "true")) { (sp, st) => withDemoPartitions(sp) {
      st.catalog.createStream("demo-basin1", "wa")
      st.append("demo-basin1", "wa",
        AppendInput(Seq(rec("a"), rec("b"), rec("c"))), Some(1000))
      st.append("demo-basin1", "wa",
        AppendInput(Seq(rec("d"), rec("e"))), Some(12000))
      st.append("demo-basin1", "wa",
        AppendInput(Seq(rec("f"))), Some(25000))
      val q = sp.readStream.format("graft-stream")
        .option("root", st.root).option("basin", "demo-basin1")
        .option("stream", "wa").load()
        .selectExpr("timestamp_millis(timestamp) AS ts")
        .withWatermark("ts", "5 seconds")
        .groupBy(org.apache.spark.sql.functions.window(
          org.apache.spark.sql.functions.col("ts"), "10 seconds"))
        .count()
        .selectExpr(
          "CAST(unix_timestamp(window.start) AS BIGINT) AS ws",
          "CAST(unix_timestamp(window.end) AS BIGINT) AS we",
          "count")
        .writeStream.format("parquet")
        .option("path", s"${st.root}/_wasink")
        .option("checkpointLocation", s"${st.root}/_wackpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val rows = sp.read.parquet(s"${st.root}/_wasink")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      Seq(
        "emitted" -> rows.map { case (ws, we, c) => s"$ws-$we:$c" }.mkString(","),
        "open_window_held" -> (!rows.exists(_._1 >= 20L)).toString)
    }},

    // Streaming SESSION windows: per-key activity sessions that close
    // after a 5-second event-time gap, with a watermark finalizing
    // them. Appends at t=1s,2s,3s then t=20s,21s form two sessions of
    // the single stream key; the final append at t=60s pushes the
    // watermark (55s) past both session ends, so exactly those two
    // finalized sessions reach the append-mode sink — the third,
    // still-open session is held in state. Session windows are the
    // variable-length complement of e2e_stream_window's tumbling
    // windows (Spark's session_window with dynamic merge).
    demo("e2e_stream_session", Seq(
      "sessions" -> "1-8:3,20-26:2",
      "open_session_held" -> "true")) { (sp, st) => withDemoPartitions(sp) {
      st.catalog.createStream("demo-basin1", "sw")
      Seq(1000L, 2000L, 3000L).foreach(t =>
        st.append("demo-basin1", "sw", AppendInput(Seq(rec(s"a$t"))), Some(t)))
      Seq(20000L, 21000L).foreach(t =>
        st.append("demo-basin1", "sw", AppendInput(Seq(rec(s"b$t"))), Some(t)))
      st.append("demo-basin1", "sw", AppendInput(Seq(rec("late"))), Some(60000L))
      val q = sp.readStream.format("graft-stream")
        .option("root", st.root).option("basin", "demo-basin1")
        .option("stream", "sw").load()
        .selectExpr("timestamp_millis(timestamp) AS ts", "'k' AS key")
        .withWatermark("ts", "5 seconds")
        .groupBy(org.apache.spark.sql.functions.session_window(
          org.apache.spark.sql.functions.col("ts"), "5 seconds"),
          org.apache.spark.sql.functions.col("key"))
        .count()
        .selectExpr(
          "CAST(unix_timestamp(session_window.start) AS BIGINT) AS ws",
          "CAST(unix_timestamp(session_window.end) AS BIGINT) AS we",
          "count")
        .writeStream.format("parquet")
        .option("path", s"${st.root}/_swsink")
        .option("checkpointLocation", s"${st.root}/_swckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val rows = sp.read.parquet(s"${st.root}/_swsink")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      Seq(
        "sessions" -> rows.map { case (ws, we, c) => s"$ws-$we:$c" }.mkString(","),
        "open_session_held" -> (!rows.exists(_._1 >= 60L)).toString)
    }},

    // Batch->stream HANDOFF: the bootstrap-then-tail pattern every
    // consumer of a log runs — read the history [0, tail) with the
    // BATCH side of the DSv2 source, then follow live from exactly
    // that tail with the STREAMING side. The two planners share the
    // seq_num contract (same FileIndex pruning, same visibility
    // masks), so the union must be contiguous with no duplicate and
    // no gap even though records land between the tail check and the
    // stream start — the property this demo pins end-to-end.
    demo("e2e_batch_stream_handoff", Seq(
      "bootstrap" -> "0,1,2",
      "live_tail" -> "3,4",
      "contiguous_no_dupes" -> "true")) { (sp, st) =>
      st.catalog.createStream("demo-basin1", "ho")
      st.append("demo-basin1", "ho",
        AppendInput(Seq(rec("a"), rec("b"), rec("c"))), Some(1000))
      val tail0 = st.checkTail("demo-basin1", "ho").seqNum
      val bootstrap = sp.read.format("graft-stream")
        .option("root", st.root).option("basin", "demo-basin1")
        .option("stream", "ho").option("endSeq", tail0.toString).load()
        .select("seq_num").collect().map(_.getLong(0)).sorted.toSeq
      // records arriving AFTER the tail check, BEFORE the stream starts
      st.append("demo-basin1", "ho",
        AppendInput(Seq(rec("d"), rec("e"))), Some(2000))
      val q = sp.readStream.format("graft-stream")
        .option("root", st.root).option("basin", "demo-basin1")
        .option("stream", "ho").option("startSeq", tail0.toString).load()
        .select("seq_num")
        .writeStream.format("parquet")
        .option("path", s"${st.root}/_hosink")
        .option("checkpointLocation", s"${st.root}/_hockpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val live = sp.read.parquet(s"${st.root}/_hosink")
        .collect().map(_.getLong(0)).sorted.toSeq
      val all = bootstrap ++ live
      Seq(
        "bootstrap" -> bootstrap.mkString(","),
        "live_tail" -> live.mkString(","),
        "contiguous_no_dupes" ->
          (all == (0L until all.size.toLong)).toString)
    },

    // Streaming STREAM-STREAM join: two followed graft streams
    // (impressions, clicks) joined on key within a 10-second event-time
    // interval — the batch j4_range_join's streaming complement, and
    // the op that proves two DSv2 sources compose in ONE query with
    // per-source checkpointed offsets. The teeth: the ad2 impression
    // arrives in run 1 but its click only in run 2, so the match can
    // only be emitted if the join STATE (buffered impression rows)
    // survives the checkpointed restart alongside both sources' resume
    // offsets; the ad3 click at t=30s violates the interval bound and
    // must never pair. At 100 TB both sides hash-partition by the join
    // key and the watermark bounds the buffered state to the interval
    // width — exactly the plan Spark builds here.
    demo("e2e_stream_join", Seq(
      "first_run_matches" -> "ad1:1-3",
      "second_run_new" -> "ad2:1-8",
      "window_bound_enforced" -> "true")) { (sp, st) =>
      st.catalog.createStream("demo-basin1", "ji")
      st.catalog.createStream("demo-basin1", "jc")
      def run(): Seq[(String, Long, Long)] = {
        def side(stream: String) = sp.readStream.format("graft-stream")
          .option("root", st.root).option("basin", "demo-basin1")
          .option("stream", stream).load()
        val imp = side("ji")
          .selectExpr("CAST(body AS STRING) AS ad",
            "timestamp_millis(timestamp) AS i_ts")
          .withWatermark("i_ts", "5 seconds")
        val clk = side("jc")
          .selectExpr("CAST(body AS STRING) AS c_ad",
            "timestamp_millis(timestamp) AS c_ts")
          .withWatermark("c_ts", "5 seconds")
        val q = clk.join(imp, org.apache.spark.sql.functions.expr(
            "c_ad = ad AND c_ts >= i_ts AND c_ts <= i_ts + INTERVAL 10 SECONDS"))
          .selectExpr("ad",
            "CAST(unix_timestamp(i_ts) AS BIGINT) AS i_s",
            "CAST(unix_timestamp(c_ts) AS BIGINT) AS c_s")
          .writeStream.format("parquet")
          .option("path", s"${st.root}/_jsink")
          .option("checkpointLocation", s"${st.root}/_jckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        sp.read.parquet(s"${st.root}/_jsink")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._3)).toSeq
      }
      // Inner-join matches emit when data arrives; the no-data
      // microbatches that exist to advance the watermark only add
      // state-store lifecycles here (state eviction is irrelevant to a
      // bounded demo). Both confs scoped to this query.
      val (first, second) = withDemoPartitions(sp) {
        withScopedConf(sp, "spark.sql.streaming.noDataMicroBatches.enabled",
          "false") {
          st.append("demo-basin1", "ji",
            AppendInput(Seq(rec("ad1"), rec("ad2"))), Some(1000))
          st.append("demo-basin1", "ji", AppendInput(Seq(rec("ad3"))), Some(2000))
          st.append("demo-basin1", "jc", AppendInput(Seq(rec("ad1"))), Some(3000))
          val f = run()
          st.append("demo-basin1", "jc", AppendInput(Seq(rec("ad2"))), Some(8000))
          st.append("demo-basin1", "jc", AppendInput(Seq(rec("ad3"))), Some(30000))
          (f, run())
        }
      }
      def fmt(rows: Seq[(String, Long, Long)]) =
        rows.map { case (a, i, c) => s"$a:$i-$c" }.mkString(",")
      Seq(
        "first_run_matches" -> fmt(first),
        "second_run_new" -> fmt(second.filterNot(first.contains)),
        "window_bound_enforced" -> (!second.exists(_._1 == "ad3")).toString)
    },

    // Streaming AS-OF join (latest-value enrichment): the streaming
    // complement of j3_asof_join, and the temporal-join case Spark's
    // built-in stream-stream join CANNOT express — an interval join
    // buffers both sides within a window, while as-of needs "the
    // single most recent click, however old". That is custom state:
    // flatMapGroupsWithState keyed by user holds one value (the
    // latest click label) per key, clicks update it, purchases emit
    // against it. Batch-internal order is restored by seq_num (a
    // microbatch's group iterator is unordered); the teeth are the
    // restart — u2's click arrives in run 1, its purchase in run 2,
    // and the match emits only if the one-value state survived the
    // checkpoint — and recency, u1's second click must supersede its
    // first. At 100 TB the state is exactly one value per key, hash-
    // partitioned: strictly smaller than any interval join buffer.
    demo("e2e_stream_asof", Seq(
      "first_run" -> "u1/p1<-c1,u2/p2<-none",
      "state_across_restart" -> "u2/p3<-c2",
      "newest_click_wins" -> "u1/p4<-c3")) { (sp, st) =>
      import sp.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      st.catalog.createStream("demo-basin1", "as")
      def run(): Seq[(String, String, String)] = {
        val q = sp.readStream.format("graft-stream")
          .option("root", st.root).option("basin", "demo-basin1")
          .option("stream", "as").load()
          .selectExpr("CAST(body AS STRING) AS body", "seq_num")
          .as[(String, Long)]
          .map { case (b, seq) =>
            val p = b.split(':'); (p(1), p(0), p(2), seq)
          }
          .groupByKey(_._1)
          .flatMapGroupsWithState(
            OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
            (user: String, rows: Iterator[(String, String, String, Long)],
             state: GroupState[String]) =>
              var last = state.getOption.getOrElse("")
              val out = Seq.newBuilder[(String, String, String)]
              rows.toSeq.sortBy(_._4).foreach { case (_, kind, label, _) =>
                if (kind == "c") last = label
                else out += ((user, label, if (last.isEmpty) "none" else last))
              }
              if (last.nonEmpty) state.update(last)
              out.result().iterator
          }
          .toDF("user", "purchase", "click")
          .writeStream.format("parquet")
          .option("path", s"${st.root}/_assink")
          .option("checkpointLocation", s"${st.root}/_asckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        sp.read.parquet(s"${st.root}/_assink")
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
          .sortBy(_._2).toSeq
      }
      val (first, second) = withDemoPartitions(sp) {
        st.append("demo-basin1", "as", AppendInput(Seq(
          rec("c:u1:c1"), rec("p:u1:p1"), rec("p:u2:p2"), rec("c:u2:c2"))),
          Some(1000))
        val f = run()
        st.append("demo-basin1", "as", AppendInput(Seq(
          rec("p:u2:p3"), rec("c:u1:c3"), rec("p:u1:p4"))), Some(2000))
        (f, run())
      }
      def fmt(rows: Seq[(String, String, String)]) =
        rows.map { case (u, p, c) => s"$u/$p<-$c" }.mkString(",")
      val newRows = second.filterNot(first.contains)
      Seq(
        "first_run" -> fmt(first),
        "state_across_restart" -> fmt(newRows.filter(_._1 == "u2")),
        "newest_click_wins" -> fmt(newRows.filter(_._1 == "u1")))
    },

    // R11 — auto-resume retry policy: capped exponential backoff,
    // reset after a healthy run (sdk/src/retry.rs)
    demo("e2e_r11_auto_resume", Seq(
      "backoffs" -> "100,200,400",
      "healthy_run_resets" -> "100",
      "budget_exhausted" -> "gave_up")) { (_, _) =>
      var now = 0L
      var failures = 3
      val b1 = graft.streaming.AutoResume.run(
        () => if (failures > 0) { failures -= 1; sys.error("broken") },
        clock = () => now, sleeper = _ => ())
      // a long-lived run before the crash resets the ladder
      var phase = 0
      val b2 = graft.streaming.AutoResume.run(
        () => phase match {
          case 0 => phase = 1; sys.error("fail-fast")     // backoff 100
          case 1 => phase = 2; now += 60000; sys.error("died after 60s") // reset -> 100
          case _ => ()
        },
        clock = () => now, sleeper = _ => ())
      val gaveUp = try {
        graft.streaming.AutoResume.run(() => sys.error("always"),
          maxRetries = 2, clock = () => now, sleeper = _ => ())
        "completed"
      } catch { case _: Throwable => "gave_up" }
      Seq(
        "backoffs" -> b1.mkString(","),
        "healthy_run_resets" -> b2.last.toString,
        "budget_exhausted" -> gaveUp)
    },

    // A10/A11 — producer: per-record acks, batch chaining, flow control
    demo("e2e_a10_producer", Seq(
      "ack_seqs" -> "0..24",
      "batches_cover_records" -> "true",
      "high_water_within_budget" -> "true",
      "tail" -> "25")) { (_, st) =>
      import scala.concurrent.Await
      import scala.concurrent.duration._
      st.catalog.createStream("demo-basin1", "prod")
      val p = new graft.log.Producer(st, "demo-basin1", "prod",
        maxRecords = 10, nowMs = Some(1000))
      val futs = (0 until 25).map(i => p.submit(rec(s"r$i")))
      p.close()
      val acks = futs.map(f => Await.result(f, 30.seconds).toOption.get)
      Seq(
        "ack_seqs" -> s"${acks.head.seqNum}..${acks.last.seqNum}",
        "batches_cover_records" -> acks.forall(a =>
          a.seqNum >= a.batch.start.seqNum && a.seqNum < a.batch.end.seqNum).toString,
        "high_water_within_budget" -> (p.highWaterBytes <= 5L * 1024 * 1024).toString,
        "tail" -> st.checkTail("demo-basin1", "prod").seqNum.toString)
    },

    // A12 — durability barrier: a second store instance on the same
    // root observes exactly the committed state (visible <=> durable)
    demo("e2e_a12_durability", Seq(
      "tail_from_second_instance" -> "3",
      "rows_from_second_instance" -> "3",
      "manifest_version_advances" -> "true")) { (sp, st) =>
      st.catalog.createStream("demo-basin1", "dur")
      st.append("demo-basin1", "dur", AppendInput(Seq(rec("a"), rec("b"))), Some(1000))
      st.append("demo-basin1", "dur", AppendInput(Seq(rec("c"))), Some(1000))
      val st2 = new StreamStore(sp, st.root)
      val rows = st2.readBatch("demo-basin1", "dur",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
      Seq(
        "tail_from_second_instance" ->
          st2.checkTail("demo-basin1", "dur").seqNum.toString,
        "rows_from_second_instance" -> rows.size.toString,
        "manifest_version_advances" ->
          (st2.manifest("demo-basin1", "dur").version == 2L).toString)
    },

    // A12 on OBJECT-STORE semantics (VERDICT r12 #1): the same
    // durability contract with the commit protocol running against
    // the no-rename/no-locks/conditional-put backend the reference
    // itself targets (SlateDB over S3; semantics per the reference's
    // own simulation, sim/src/s3.rs:120-134). The manifest commit is
    // an If-Match conditional put; data files are atomic whole-object
    // puts; a second "driver" instance sees both through the shared
    // bucket. A doomed concurrent commit (stale tag) must abort with
    // a CAS conflict, not lose either write.
    demo("e2e_a12_object_durability", Seq(
      "backend" -> "object",
      "tail_from_second_instance" -> "3",
      "rows_from_second_instance" -> "3",
      "manifest_version_advances" -> "true",
      "stale_tag_commit_rejected" -> "true")) { (sp, _) =>
      val root = Files.createTempDirectory("graft-objdur").toString
      graft.log.ObjectStoreBackend.install(root)
      val st = new StreamStore(sp, root)
      st.catalog.createBasin("demo-basin1",
        BasinConfig(defaultStreamConfig =
          StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      st.catalog.createStream("demo-basin1", "dur")
      st.append("demo-basin1", "dur", AppendInput(Seq(rec("a"), rec("b"))), Some(1000))
      st.append("demo-basin1", "dur", AppendInput(Seq(rec("c"))), Some(1000))
      val st2 = new StreamStore(sp, root)
      val rows = st2.readBatch("demo-basin1", "dur",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
      val tail2 = st2.checkTail("demo-basin1", "dur").seqNum
      val version2 = st2.manifest("demo-basin1", "dur").version
      // stale-tag rejection: a third append moves the manifest (new
      // content, new etag), then an If-Match put replayed with the
      // PRE-append tag must fail its precondition
      val key = Layout.statePath(root, "demo-basin1", "dur").toString
      val backend = st.backend
      val (json, tag) = backend.getMeta(key, fresh = true).get
      st.append("demo-basin1", "dur", AppendInput(Seq(rec("d"))), Some(1000))
      val rejected = backend.casMeta(key, json, Some(tag)).isLeft
      Seq(
        "backend" -> st.backend.name,
        "tail_from_second_instance" -> tail2.toString,
        "rows_from_second_instance" -> rows.size.toString,
        "manifest_version_advances" -> (version2 == 2L).toString,
        "stale_tag_commit_rejected" -> rejected.toString)
    },

    // C1-C5 on an OBJECT root — the control plane over conditional
    // puts only (no file locks, no renames): the reference keeps
    // basin/stream metadata in the same object-backed KV as records
    // (lite/src/backend/kv/mod.rs:54-71, BasinMeta/StreamMeta keys).
    // Creates/reconfigures from one driver are immediately visible to
    // a second driver on the shared bucket; a stale-etag shard commit
    // is rejected, and the rebase keeps both writers' streams.
    demo("e2e_object_catalog", Seq(
      "backend" -> "object",
      "basin_visible_second_driver" -> "true",
      "streams_listed_second_driver" -> "100",
      "reconfigure_cross_driver" -> "infinite",
      "config_merge_on_object" -> "standard",
      "stale_shard_commit_rejected" -> "true",
      "append_after_catalog_ops" -> "1")) { (sp, _) =>
      val root = Files.createTempDirectory("graft-objcat").toString
      graft.log.ObjectStoreBackend.install(root)
      val a = new StreamStore(sp, root)
      val b = new StreamStore(sp, root) // second simulated driver
      a.catalog.createBasin("demo-basin1", BasinConfig(
        defaultStreamConfig = StreamConfig(
          retentionPolicy = Some(RetentionPolicy.Infinite),
          storageClass = Some(StorageClass.Standard))))
      a.catalog.createStreams("demo-basin1", (0 until 100).map(i => s"oc-$i"))
      val visible = b.catalog.getBasin("demo-basin1").isDefined
      val listed = b.catalog.listStreams("demo-basin1", limit = 1000).items.size
      // reconfigure through A, read merged config through B
      a.catalog.reconfigureStream("demo-basin1", "oc-7",
        StreamConfigPatch(retentionPolicy = Patch.Set(RetentionPolicy.Infinite)))
      val reconf = b.catalog.streamConfig("demo-basin1", "oc-7")
        .flatMap(_.retentionPolicy) match {
        case Some(RetentionPolicy.Infinite) => "infinite"
        case other => other.toString
      }
      // C5 three-layer merge works identically on the object root:
      // stream sets nothing for storage class -> basin default wins
      val merged = b.catalog.streamConfig("demo-basin1", "oc-3")
        .flatMap(_.storageClass) match {
        case Some(StorageClass.Standard) => "standard"
        case other => other.toString
      }
      // stale-etag rejection on a SHARD document (control plane uses
      // the same conditional-put discipline as the data plane)
      val backend = a.backend
      val shardKey = Layout.streamShardPath(
        graft.log.Catalog.canonicalRoot(root), "demo-basin1",
        graft.log.Catalog.shardOf("oc-7")).toString
      val (json, tag) = backend.getMeta(shardKey, fresh = true).get
      a.catalog.reconfigureStream("demo-basin1", "oc-7",
        StreamConfigPatch(retentionPolicy = Patch.Clear)) // moves the etag
      val rejected = backend.casMeta(shardKey, json, Some(tag)).isLeft
      // and the data plane still works over the same catalog
      b.append("demo-basin1", "oc-0", AppendInput(Seq(rec("x"))), Some(1000))
      Seq(
        "backend" -> a.backend.name,
        "basin_visible_second_driver" -> visible.toString,
        "streams_listed_second_driver" -> listed.toString,
        "reconfigure_cross_driver" -> reconf,
        "config_merge_on_object" -> merged,
        "stale_shard_commit_rejected" -> rejected.toString,
        "append_after_catalog_ops" ->
          a.checkTail("demo-basin1", "oc-0").seqNum.toString)
    },

    // The REAL-ENDPOINT object adapter: same flows as the object demos
    // above, but every protocol operation is an actual HTTP round trip
    // to a localhost object server (conditional puts decided
    // server-side, listings served from the server's index, data
    // objects atomically materialized by the server) — the
    // deployment-shaped path where "two drivers" means two clients of
    // one endpoint, not two references to one in-memory map.
    // HttpCrossProcessSpec proves the same endpoint across forked
    // JVMs; this demo keeps the adapter inside the oracle gate.
    demo("e2e_http_object", Seq(
      "backend" -> "http-object",
      "tail_from_second_driver" -> "2",
      "rows_round_trip" -> "h0,h1",
      "stale_tag_commit_rejected" -> "true",
      "streams_listed" -> "20",
      "encrypted_round_trip" -> "sealed-over-http",
      "encrypted_headers_hidden" -> "true")) { (sp, _) =>
      val (server, endpoint) = graft.log.HttpObjectServer.start()
      try {
        val root = Files.createTempDirectory("graft-httpobj").toString
        graft.log.HttpObjectBackend.install(root, endpoint)
        val a = new StreamStore(sp, root)
        val b = new StreamStore(sp, root) // second driver, same endpoint
        a.catalog.createBasin("demo-basin1", BasinConfig(
          defaultStreamConfig = StreamConfig(
            retentionPolicy = Some(RetentionPolicy.Infinite))))
        a.catalog.createStreams("demo-basin1", (0 until 20).map(i => s"ho-$i"))
        a.append("demo-basin1", "ho-0",
          AppendInput(Seq(rec("h0"), rec("h1"))), Some(1000))
        val tail2 = b.checkTail("demo-basin1", "ho-0").seqNum
        val rows = b.readBatch("demo-basin1", "ho-0",
          ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
          .map(r => new String(r.body)).mkString(",")
        val listed = b.catalog.listStreams("demo-basin1", limit = 100).items.size
        // stale-etag commit rejected by the SERVER (HTTP 412), not by
        // any in-process state
        val key = Layout.statePath(
          graft.log.Catalog.canonicalRoot(root), "demo-basin1", "ho-0").toString
        val (json, tag) = a.backend.getMeta(key, fresh = true).get
        a.append("demo-basin1", "ho-0", AppendInput(Seq(rec("h2"))), Some(1001))
        val rejected = a.backend.casMeta(key, json, Some(tag)).isLeft
        // A13 over the HTTP adapter: encrypted basin round-trips and
        // stores no cleartext headers
        val ekey = Array.fill(32)(0x31.toByte)
        a.catalog.createBasin("http-enc", BasinConfig(
          defaultStreamConfig = StreamConfig(
            retentionPolicy = Some(RetentionPolicy.Infinite)),
          streamCipher = Some(graft.log.CipherAlgo.Aegis256)))
        a.catalog.createStream("http-enc", "e")
        a.append("http-enc", "e", AppendInput(Seq(
          EnvelopeRecord(Seq(Header.utf8("k", "v")), "sealed-over-http".getBytes))),
          Some(1000), Some(ekey))
        val dec = b.readBatch("http-enc", "e",
          ReadSpec(ReadStart(ReadFrom.SeqNum(0))), cipher = Some(ekey))
          .toOption.get.head
        val hidden = b.visible("http-enc", "e").collect().head.isNullAt(2)
        Seq(
          "backend" -> a.backend.name,
          "tail_from_second_driver" -> tail2.toString,
          "rows_round_trip" -> rows,
          "stale_tag_commit_rejected" -> rejected.toString,
          "streams_listed" -> listed.toString,
          "encrypted_round_trip" -> new String(dec.body),
          "encrypted_headers_hidden" -> hidden.toString)
      } finally server.stop(0)
    },

    // The v1 RECORDS serving surface (VERDICT r16 #5): the day-one
    // client API the reference serves over HTTP (records.rs:30-36 —
    // check_tail / unary append / unary read / SSE session), here over
    // HttpRecordsServer in front of a StreamStore. The SSE leg is the
    // reconnect discipline end-to-end: a client consumes the catch-up
    // batch (id: seq,count,bytes — sse.rs LastEventId), HANGS UP
    // mid-stream, a record lands while it is away, and the reconnect
    // with Last-Event-ID resumes exactly after the last delivered seq
    // (records.rs:49-65) — the assembled body sequence proves every
    // record was delivered exactly once across the two connections.
    demo("e2e_http_records", Seq(
      "append_ack" -> "0..3,tail=3",
      "cas_412" -> "412:seq_num_mismatch:3",
      "tail_check" -> "3",
      "unary_read" -> "r0,r1,r2",
      "sse_catchup" -> "r0,r1,r2@2,3,30",
      "sse_resume" -> "batch:r3@3,1,10;ping;done",
      "all_bodies_exactly_once" -> "r0,r1,r2,r3")) { (_, st) =>
      val (server, endpoint) = graft.log.HttpRecordsServer.start(st, Some(1000L))
      try {
        import graft.log.HttpRecordsClient._
        st.catalog.createStream("demo-basin1", "hr")
        val base = s"$endpoint/v1/streams/hr/records"
        val hdr = Seq("s2-basin" -> "demo-basin1")
        def seqOf(json: String, field: String): String =
          (s""""$field":\\{"seq_num":(\\d+)""").r
            .findFirstMatchIn(json).map(_.group(1)).getOrElse("?")
        def bodiesOf(json: String): String =
          """"body":"([^"]+)"""".r.findAllMatchIn(json)
            .map(_.group(1)).mkString(",")
        // unary append over HTTP
        val (a1, ack) = request("POST", base, hdr,
          """{"records":[{"body":"r0"},{"body":"r1"},{"body":"r2"}]}"""
            .getBytes("UTF-8"))
        val appendAck = if (a1 == 200)
          s"${seqOf(ack, "start")}..${seqOf(ack, "end")},tail=${seqOf(ack, "tail")}"
        else s"HTTP $a1"
        // stale CAS -> 412 with the expected NEXT seq in the body
        val (c2, condFail) = request("POST", base, hdr,
          """{"records":[{"body":"x"}],"match_seq_num":0}""".getBytes("UTF-8"))
        val cas412 = s"$c2:" + """"?(\w+)"?:(\d+)""".r
          .findFirstMatchIn(condFail).map(m => s"${m.group(1)}:${m.group(2)}")
          .getOrElse(condFail)
        val (_, tailJson) = request("GET", s"$base/tail", hdr)
        // unary JSON read
        val (_, readJson) = request("GET", s"$base?seq_num=0", hdr)
        // SSE catch-up, then hang up MID-STREAM after the first batch
        val catchup = readSse(s"$base?seq_num=0&wait=5", hdr, stopAfter = 1)
        val firstBatch = catchup.head
        val sseCatchup = s"${bodiesOf(firstBatch.data)}@${firstBatch.id.getOrElse("?")}"
        // a record lands while the client is away
        request("POST", base, hdr, """{"records":[{"body":"r3"}]}""".getBytes("UTF-8"))
        // reconnect with Last-Event-ID: resume exactly after seq 2
        val resumed = readSse(s"$base?wait=1", hdr :+
          ("Last-Event-ID" -> firstBatch.id.get))
        val sseResume = resumed.map {
          case SseEvent(Some("batch"), Some(id), data) => s"batch:${bodiesOf(data)}@$id"
          case SseEvent(Some("ping"), _, _) => "ping"
          case SseEvent(None, _, "[DONE]") => "done"
          case other => s"unexpected:$other"
        }.mkString(";")
        val allBodies = bodiesOf(firstBatch.data) + "," +
          resumed.collect { case SseEvent(Some("batch"), _, d) => bodiesOf(d) }
            .mkString(",")
        Seq(
          "append_ack" -> appendAck,
          "cas_412" -> cas412,
          "tail_check" -> seqOf(tailJson, "tail"),
          "unary_read" -> bodiesOf(readJson),
          "sse_catchup" -> sseCatchup,
          "sse_resume" -> sseResume,
          "all_bodies_exactly_once" -> allBodies)
      } finally server.stop(0)
    },

    // The S2S framed session mode (records.rs:199-294,405-455): the
    // reference's binary length-prefixed frame protocol over the SAME
    // session machinery the JSON/SSE routes prove — POST = framed
    // append session (one ack frame per input, pipelined through
    // AppendSession, terminal frame on failure), GET = framed read
    // session (one frame per batch, clean close on exhaustion).
    // Pins: submission-ordered acks across one session, mid-stream
    // resume by re-aiming seq_num with exactly-once content, the
    // >=1 KiB gzip negotiation (frame compression flag 2 with
    // Accept-Encoding gzip, 0 without, identical decoded payload),
    // and the terminal frame carrying the 412 condition.
    demo("e2e_http_s2s", Seq(
      "framed_acks" -> "0..2;2..4;4..6",
      "framed_tail" -> "6",
      "read_catchup" -> "p0,p1,q0,q1,r0,r1",
      "resume_exact" -> "p0,p1|q0,q1,r0,r1",
      "gzip_negotiation" -> "gzip:2,plain:0,equal:true",
      "terminal_412" -> "ack0..2,terminal:412:seq_num_mismatch:2")) { (_, st) =>
      val (server, endpoint) = graft.log.HttpRecordsServer.start(st, Some(1000L))
      try {
        import graft.log.{HttpRecordsClient, S2sCodec}
        st.catalog.createStream("demo-basin1", "s2s")
        val base = s"$endpoint/v1/streams/s2s/records"
        val hdr = Seq("s2-basin" -> "demo-basin1")
        def seqOf(json: String, field: String): String =
          (s""""$field":\\{"seq_num":(\\d+)""").r
            .findFirstMatchIn(json).map(_.group(1)).getOrElse("?")
        def bodiesOf(json: String): String =
          """"body":"([^"]+)"""".r.findAllMatchIn(json)
            .map(_.group(1)).mkString(",")
        // one framed append session, three pipelined inputs
        val acks = HttpRecordsClient.s2sAppendSession(base, hdr, Seq(
          """{"records":[{"body":"p0"},{"body":"p1"}]}""",
          """{"records":[{"body":"q0"},{"body":"q1"}]}""",
          """{"records":[{"body":"r0"},{"body":"r1"}]}"""))
        val framedAcks = acks.map(f =>
          s"${seqOf(f.payloadUtf8, "start")}..${seqOf(f.payloadUtf8, "end")}")
          .mkString(";")
        val framedTail = acks.lastOption
          .map(f => seqOf(f.payloadUtf8, "tail")).getOrElse("?")
        // framed catch-up: every record, however the session batches
        val catchup = HttpRecordsClient.s2sReadSession(
          s"$base?seq_num=0&count=6", hdr)
        val readCatchup = catchup.map(f => bodiesOf(f.payloadUtf8))
          .filter(_.nonEmpty).mkString(",")
        // mid-stream resume: a count-bounded session ends cleanly
        // after 2 records; the client re-aims seq_num at the next
        // record — together exactly the full content, nothing twice
        val part1 = HttpRecordsClient.s2sReadSession(
          s"$base?seq_num=0&count=2", hdr)
        val got1 = part1.map(f => bodiesOf(f.payloadUtf8))
          .filter(_.nonEmpty).mkString(",")
        // last RECORD seq the client processed (the frame also
        // carries the tail position — not a delivery)
        val lastSeq = part1.flatMap { f =>
          val recordsOnly = f.payloadUtf8.replaceAll(""""tail":\{[^}]*\}""", "")
          """"seq_num":(\d+)""".r.findAllMatchIn(recordsOnly)
            .map(_.group(1).toLong).toSeq
        }.max
        val part2 = HttpRecordsClient.s2sReadSession(
          s"$base?seq_num=${lastSeq + 1}&count=4", hdr)
        val got2 = part2.map(f => bodiesOf(f.payloadUtf8))
          .filter(_.nonEmpty).mkString(",")
        // gzip negotiation on a >1 KiB frame
        st.catalog.createStream("demo-basin1", "s2s-big")
        val bigBase = s"$endpoint/v1/streams/s2s-big/records"
        HttpRecordsClient.s2sAppendSession(bigBase, hdr,
          Seq(s"""{"records":[{"body":"${"X" * 2048}"}]}"""))
        val zipped = HttpRecordsClient.s2sReadSession(
          s"$bigBase?seq_num=0&count=1", hdr, gzip = true)
        val plain = HttpRecordsClient.s2sReadSession(
          s"$bigBase?seq_num=0&count=1", hdr)
        val gzipCheck = s"gzip:${zipped.head.compression}," +
          s"plain:${plain.head.compression}," +
          s"equal:${zipped.head.payloadUtf8 == plain.head.payloadUtf8}"
        // terminal frame: second input fails its CAS -> ack frame for
        // the first, then a terminal 412 with the condition body
        st.catalog.createStream("demo-basin1", "s2s-term")
        val mixed = HttpRecordsClient.s2sAppendSession(
          s"$endpoint/v1/streams/s2s-term/records", hdr, Seq(
            """{"records":[{"body":"t0"},{"body":"t1"}]}""",
            """{"records":[{"body":"late"}],"match_seq_num":0}"""),
          gzip = false) match {
          case Seq(ack, term) if !ack.terminal && term.terminal =>
            s"ack${seqOf(ack.payloadUtf8, "start")}..${seqOf(ack.payloadUtf8, "end")}," +
              s"terminal:${term.status}:" + """"?(\w+)"?:(\d+)""".r
              .findFirstMatchIn(term.payloadUtf8)
              .map(m => s"${m.group(1)}:${m.group(2)}").getOrElse(term.payloadUtf8)
          case other => s"unexpected:$other"
        }
        Seq(
          "framed_acks" -> framedAcks,
          "framed_tail" -> framedTail,
          "read_catchup" -> readCatchup,
          "resume_exact" -> s"$got1|$got2",
          "gzip_negotiation" -> gzipCheck,
          "terminal_412" -> mixed)
      } finally server.stop(0)
    },

    // The router-wide unary compression layer (handlers/v1/mod.rs:
    // 16-34): responses >= 1 KiB gzip when Accept-Encoding negotiates
    // it (SizeAbove(1024)), SSE is exempt (NotForContentType), and
    // request bodies arrive gzip-encoded (RequestDecompressionLayer)
    // with unsupported encodings answering 415. S2S does its own
    // per-frame compression (pinned in e2e_http_s2s), so this demo is
    // the UNARY half of the reference's compression contract.
    demo("e2e_http_gzip", Seq(
      "unary_gzip" -> "enc:gzip,inflated_equal:true,wire_smaller:true",
      "small_plain" -> "enc:none",
      "unnegotiated_plain" -> "enc:none",
      "sse_exempt" -> "enc:none,bodies:4",
      "gzip_request" -> "200:z0,z1",
      "unsupported_encoding" -> "415")) { (_, st) =>
      val (server, endpoint) = graft.log.HttpRecordsServer.start(st, Some(1000L))
      try {
        import graft.log.HttpRecordsClient.{request, requestRaw}
        st.catalog.createStream("demo-basin1", "gz")
        val base = s"$endpoint/v1/streams/gz/records"
        val hdr = Seq("s2-basin" -> "demo-basin1")
        // corpus: 4 KiB of compressible body across 4 records
        val seed = (0 until 4).map(i => s"""{"body":"${("ab" * 512) + i}"}""")
        request("POST", base, hdr,
          s"""{"records":[${seed.mkString(",")}]}""".getBytes("UTF-8"))
        def gunzip(b: Array[Byte]): String = new String(
          new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(b)).readAllBytes(), "UTF-8")
        // >1 KiB unary read, negotiated: gzip on the wire, inflates to
        // exactly the un-negotiated body
        val readUrl = s"$base?seq_num=0&count=4"
        val (_, plainBody) = request("GET", readUrl, hdr)
        val (_, zBody, zEnc) = requestRaw("GET", readUrl,
          hdr :+ ("Accept-Encoding" -> "gzip"))
        val unary = s"enc:${zEnc.getOrElse("none")}," +
          s"inflated_equal:${gunzip(zBody) == plainBody}," +
          s"wire_smaller:${zBody.length < plainBody.length}"
        // < 1 KiB response stays plain even when negotiated
        val (_, _, tailEnc) = requestRaw("GET", s"$base/tail",
          hdr :+ ("Accept-Encoding" -> "gzip"))
        // > 1 KiB response without negotiation stays plain
        val (_, rawBody, rawEnc) = requestRaw("GET", readUrl, hdr)
        val unneg = s"enc:${rawEnc.getOrElse("none")}"
        require(new String(rawBody, "UTF-8") == plainBody)
        // SSE is exempt from the layer: events arrive readable even
        // with gzip negotiated (the client below parses plaintext)
        val (_, sseBytes, sseEnc) = requestRaw("GET",
          s"$base?seq_num=0&count=4&wait=1",
          hdr ++ Seq("Accept" -> "text/event-stream",
            "Accept-Encoding" -> "gzip"))
        val sseRow = s"enc:${sseEnc.getOrElse("none")},bodies:${
          """"body":"""".r.findAllIn(new String(sseBytes, "UTF-8")).size}"
        // gzip-encoded REQUEST body: inflated by the layer, lands
        val reqJson = """{"records":[{"body":"z0"},{"body":"z1"}]}"""
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(reqJson.getBytes("UTF-8")); g.close()
        st.catalog.createStream("demo-basin1", "gz-req")
        val reqBase = s"$endpoint/v1/streams/gz-req/records"
        val (zc, _) = request("POST", reqBase,
          hdr :+ ("Content-Encoding" -> "gzip"), bos.toByteArray)
        val (_, landed) = request("GET", s"$reqBase?seq_num=0&count=2", hdr)
        val gzReq = s"$zc:" + """"body":"([^"]+)"""".r
          .findAllMatchIn(landed).map(_.group(1)).mkString(",")
        // an encoding the layer doesn't support answers 415
        val (uc, _) = request("POST", reqBase,
          hdr :+ ("Content-Encoding" -> "br"), reqJson.getBytes("UTF-8"))
        Seq(
          "unary_gzip" -> unary,
          "small_plain" -> s"enc:${tailEnc.getOrElse("none")}",
          "unnegotiated_plain" -> unneg,
          "sse_exempt" -> sseRow,
          "gzip_request" -> gzReq,
          "unsupported_encoding" -> uc.toString)
      } finally server.stop(0)
    },

    // zstd content-coding parity (round 19) + the root router's
    // operational surface. The reference negotiates zstd FIRST for
    // both router-wide compression (lite/Cargo.toml:56 compression-
    // zstd/decompression-zstd) and per-frame S2S compression
    // (s2s.rs:67-83 from_accept_encoding — zstd beats gzip, flag
    // value 1), and its SDK sends zstd request bodies
    // (sdk/src/client.rs:674). Also pinned here: /ping + /health
    // (handlers/mod.rs:13-24, 200 "OK" over a live backend) and the
    // CorsLayer::very_permissive() behavior (server.rs:222-223) —
    // preflight mirrors the requested method/headers, actual
    // responses mirror the Origin with credentials.
    demo("e2e_http_zstd", Seq(
      "unary_zstd" -> "enc:zstd,inflated_equal:true,wire_smaller:true",
      "zstd_beats_gzip" -> "enc:zstd",
      "zstd_request" -> "200:z0,z1",
      "s2s_zstd_frame" -> "zstd:1,plain:0,equal:true",
      "ping_health" -> "ping:200:OK,health:200:OK",
      "cors" -> "preflight:200:POST:s2-basin,actual:http://app.example:true")) { (_, st) =>
      val (server, endpoint) = graft.log.HttpRecordsServer.start(st, Some(1000L))
      try {
        import graft.log.HttpRecordsClient.{request, requestRaw, requestAny}
        import graft.log.S2sCodec
        st.catalog.createStream("demo-basin1", "zs")
        val base = s"$endpoint/v1/streams/zs/records"
        val hdr = Seq("s2-basin" -> "demo-basin1")
        val seed = (0 until 4).map(i => s"""{"body":"${("ab" * 512) + i}"}""")
        request("POST", base, hdr,
          s"""{"records":[${seed.mkString(",")}]}""".getBytes("UTF-8"))
        // >1 KiB unary read with zstd negotiated: zstd on the wire,
        // inflates to exactly the plain body
        val readUrl = s"$base?seq_num=0&count=4"
        val (_, plainBody) = request("GET", readUrl, hdr)
        val (_, zBody, zEnc) = requestRaw("GET", readUrl,
          hdr :+ ("Accept-Encoding" -> "zstd"))
        val unary = s"enc:${zEnc.getOrElse("none")}," +
          s"inflated_equal:${new String(S2sCodec.unzstd(zBody, 1 << 24), "UTF-8") == plainBody}," +
          s"wire_smaller:${zBody.length < plainBody.length}"
        // the preference matrix: zstd wins even listed after gzip
        val (_, _, prefEnc) = requestRaw("GET", readUrl,
          hdr :+ ("Accept-Encoding" -> "gzip, zstd, br"))
        // zstd-encoded REQUEST body (the SDK's compressed-append path)
        st.catalog.createStream("demo-basin1", "zs-req")
        val reqBase = s"$endpoint/v1/streams/zs-req/records"
        val (zc, _) = request("POST", reqBase,
          hdr :+ ("Content-Encoding" -> "zstd"),
          S2sCodec.zstd("""{"records":[{"body":"z0"},{"body":"z1"}]}"""
            .getBytes("UTF-8")))
        val (_, landed) = request("GET", s"$reqBase?seq_num=0&count=2", hdr)
        val zstdReq = s"$zc:" + """"body":"([^"]+)"""".r
          .findAllMatchIn(landed).map(_.group(1)).mkString(",")
        // S2S per-frame zstd: flag 1 on a >1 KiB frame, identical
        // decoded payload vs the unnegotiated session
        st.catalog.createStream("demo-basin1", "zs-s2s")
        val s2sBase = s"$endpoint/v1/streams/zs-s2s/records"
        graft.log.HttpRecordsClient.s2sAppendSession(s2sBase, hdr,
          Seq(s"""{"records":[{"body":"${"Z" * 2048}"}]}"""))
        val zf = graft.log.HttpRecordsClient.s2sReadSession(
          s"$s2sBase?seq_num=0&count=1", hdr :+ ("Accept-Encoding" -> "zstd"))
        val pf = graft.log.HttpRecordsClient.s2sReadSession(
          s"$s2sBase?seq_num=0&count=1", hdr)
        val s2sRow = s"zstd:${zf.head.compression},plain:${pf.head.compression}," +
          s"equal:${zf.head.payloadUtf8 == pf.head.payloadUtf8}"
        // /ping + /health: 200 "OK" over the live backend
        val (pc, pb) = request("GET", s"$endpoint/ping")
        val (hc, hb) = request("GET", s"$endpoint/health")
        val pingHealth = s"ping:$pc:$pb,health:$hc:$hb"
        // CORS: preflight mirrors method+headers, actual mirrors Origin
        val (cfc, _, cfh) = requestAny("OPTIONS", base, Seq(
          "Origin" -> "http://app.example",
          "Access-Control-Request-Method" -> "POST",
          "Access-Control-Request-Headers" -> "s2-basin"))
        val cfMeth = cfh.firstValue("Access-Control-Allow-Methods").orElse("")
        val cfHdrs = cfh.firstValue("Access-Control-Allow-Headers").orElse("")
        val (_, _, acth) = requestAny("GET", s"$base?seq_num=0&count=1",
          hdr :+ ("Origin" -> "http://app.example"))
        val actOrigin = acth.firstValue("Access-Control-Allow-Origin").orElse("")
        val actCred = acth.firstValue("Access-Control-Allow-Credentials").orElse("")
        val cors = s"preflight:$cfc:$cfMeth:$cfHdrs,actual:$actOrigin:$actCred"
        Seq(
          "unary_zstd" -> unary,
          "zstd_beats_gzip" -> s"enc:${prefEnc.getOrElse("none")}",
          "zstd_request" -> zstdReq,
          "s2s_zstd_frame" -> s2sRow,
          "ping_health" -> pingHealth,
          "cors" -> cors)
      } finally server.stop(0)
    },

    // The protobuf encodings of the records API — the reference's
    // OTHER two wire modes beyond JSON/SSE: unary bodies negotiated
    // by application/protobuf Content-Type (request) / Accept
    // (response) (extract.rs:95-121, mime.rs:41-46), and the
    // s2s/proto framed session mode whose frames carry prost-shaped
    // AppendInput / AppendAck / ReadBatch (records.rs:199-294,
    // 405-455). ProtoCodec is the hand-written wire codec; this demo
    // proves the full negotiation + cross-encoding equality: what
    // protobuf writes, JSON reads, byte for byte.
    demo("e2e_http_proto", Seq(
      "unary_append_proto" -> "ct:application/protobuf,start:0,end:2,tail:2",
      "unary_read_proto" -> "ct:application/protobuf,bodies:p0|p1,tail:2",
      "cross_encoding" -> "equal:true",
      "s2s_proto_session" -> "ct:s2s/proto,acks:0-2|2-4",
      "s2s_proto_read" -> "bodies:p0|p1|s0|s1,gzip_equal:true",
      "s2s_proto_cas" -> "terminal:412,mismatch:4")) { (_, st) =>
      val (server, endpoint) = graft.log.HttpRecordsServer.start(st, Some(1000L))
      try {
        import graft.log.{HttpRecordsClient, ProtoCodec, S2sCodec}
        import graft.log.HttpRecordsClient.{request, requestBinary}
        import graft.model.{AppendInput => MInput, EnvelopeRecord => MEnv}
        st.catalog.createStream("demo-basin1", "pb")
        val base = s"$endpoint/v1/streams/pb/records"
        val hdr = Seq("s2-basin" -> "demo-basin1")
        def env(s: String) = MEnv(Nil, s.getBytes("UTF-8"))
        // unary proto append: proto request body AND proto ack
        val in1 = MInput(Seq(env("p0"), env("p1")),
          clientTimestamps = Seq(None, None))
        val (c1, ackBytes, ct1) = requestBinary("POST", base,
          hdr ++ Seq("Content-Type" -> ProtoCodec.ContentType,
            "Accept" -> ProtoCodec.ContentType),
          ProtoCodec.encodeAppendInput(in1))
        require(c1 == 200, s"proto append: HTTP $c1")
        val ack = ProtoCodec.decodeAppendAck(ackBytes)
        val unaryAppend = s"ct:$ct1,start:${ack.start.seqNum}," +
          s"end:${ack.end.seqNum},tail:${ack.tail.seqNum}"
        // unary proto read: Accept negotiates a proto ReadBatch
        val (_, batchBytes, ct2) = requestBinary("GET",
          s"$base?seq_num=0&count=2", hdr :+ ("Accept" -> ProtoCodec.ContentType))
        val (recs, tail) = ProtoCodec.decodeReadBatch(batchBytes)
        val unaryRead = s"ct:$ct2,bodies:${
          recs.map(r => new String(r.body, "UTF-8")).mkString("|")},tail:${
          tail.fold(-1L)(_.seqNum)}"
        // cross-encoding: the JSON read of the SAME range must carry
        // identical positions and bodies
        val (_, jsonBody) = request("GET", s"$base?seq_num=0&count=2", hdr)
        val jsonPairs = """"seq_num":(\d+)[^}]*"body":"([^"]+)"""".r
          .findAllMatchIn(jsonBody).map(m => (m.group(1).toLong, m.group(2))).toSeq
        val protoPairs = recs.map(r => (r.seqNum, new String(r.body, "UTF-8")))
        val cross = s"equal:${jsonPairs == protoPairs}"
        // s2s/proto framed append session: two pipelined proto inputs
        st.catalog.createStream("demo-basin1", "pb-s2s")
        val s2sBase = s"$endpoint/v1/streams/pb-s2s/records"
        val sIn = Seq(
          MInput(Seq(env("s0"), env("s1")), clientTimestamps = Seq(None, None)),
          MInput(Seq(env("s2"), env("s3")), clientTimestamps = Seq(None, None)))
        val ackFrames = HttpRecordsClient.s2sAppendSessionRaw(s2sBase, hdr,
          sIn.map(ProtoCodec.encodeAppendInput), gzip = false,
          S2sCodec.ProtoContentType)
        val acks = ackFrames.map(f => ProtoCodec.decodeAppendAck(f.payload))
        val s2sSession = s"ct:${S2sCodec.ProtoContentType},acks:${
          acks.map(a => s"${a.start.seqNum}-${a.end.seqNum}").mkString("|")}"
        // s2s/proto framed read across streams pb (p0,p1) via a
        // second session on pb-s2s; also prove per-frame gzip leaves
        // proto payloads intact: pad a >1 KiB record and compare the
        // gzip'd and plain sessions' decoded bodies
        val plainFrames = HttpRecordsClient.s2sReadSession(
          s"$s2sBase?seq_num=0&count=2", hdr,
          gzip = false, contentType = S2sCodec.ProtoContentType)
        val pbFrames = HttpRecordsClient.s2sReadSession(
          s"$base?seq_num=0&count=2", hdr,
          gzip = false, contentType = S2sCodec.ProtoContentType)
        def frameBodies(fs: Seq[S2sCodec.Frame]): Seq[String] = fs
          .filterNot(_.terminal)
          .flatMap(f => ProtoCodec.decodeReadBatch(f.payload)._1)
          .map(r => new String(r.body, "UTF-8"))
        st.catalog.createStream("demo-basin1", "pb-gz")
        request("POST", s"$endpoint/v1/streams/pb-gz/records", hdr,
          s"""{"records":[{"body":"${"gg" * 600}"}]}""".getBytes("UTF-8"))
        val gzUrl = s"$endpoint/v1/streams/pb-gz/records?seq_num=0&count=1"
        val gzFrames = HttpRecordsClient.s2sReadSession(gzUrl, hdr,
          gzip = true, contentType = S2sCodec.ProtoContentType)
        val plainGz = HttpRecordsClient.s2sReadSession(gzUrl, hdr,
          gzip = false, contentType = S2sCodec.ProtoContentType)
        val gzDataFrames = gzFrames.filterNot(_.terminal)
          .filter(f => ProtoCodec.decodeReadBatch(f.payload)._1.nonEmpty)
        require(gzDataFrames.forall(_.compression == S2sCodec.CompGzip),
          "a >1 KiB proto frame must ride gzip'd when negotiated")
        val s2sRead = s"bodies:${
          (frameBodies(pbFrames) ++ frameBodies(plainFrames)).mkString("|")
        },gzip_equal:${frameBodies(gzFrames) == frameBodies(plainGz)}"
        // blind replay of the whole framed-proto session: in-band
        // terminal 412, mismatch = chain start + session records
        val chained = Seq(
          MInput(Seq(env("s0"), env("s1")), matchSeqNum = Some(0L),
            clientTimestamps = Seq(None, None)),
          MInput(Seq(env("s2"), env("s3")), matchSeqNum = Some(2L),
            clientTimestamps = Seq(None, None)))
        val replay = HttpRecordsClient.s2sAppendSessionRaw(s2sBase, hdr,
          chained.map(ProtoCodec.encodeAppendInput), gzip = false,
          S2sCodec.ProtoContentType)
        val term = replay.head
        val mismatch = """"seq_num_mismatch":(\d+)""".r
          .findFirstMatchIn(term.payloadUtf8).map(_.group(1)).getOrElse("?")
        val cas = s"terminal:${term.status},mismatch:$mismatch"
        Seq(
          "unary_append_proto" -> unaryAppend,
          "unary_read_proto" -> unaryRead,
          "cross_encoding" -> cross,
          "s2s_proto_session" -> s2sSession,
          "s2s_proto_read" -> s2sRead,
          "s2s_proto_cas" -> cas)
      } finally server.stop(0)
    },

    // The content-type contract of the JSON routes (api/src/data.rs):
    // a JSON request body REQUIRES `Content-Type: application/json`
    // (or an application/*+json suffix) — the strict Json extractor
    // answers 415 MissingContentType otherwise — while the ensure
    // routes' OPTIONAL bodies (JsonOpt, data.rs:240-262) treat a
    // missing Content-Type as "no body" (defaults apply) and still
    // 415 a non-json one. Pinned against raw requests that name no
    // encoding (the SDK-shaped client helpers default the header).
    demo("e2e_http_content_type", Seq(
      "append_no_ct" -> "415",
      "append_wrong_ct" -> "415",
      "append_json_ct" -> "200",
      "append_suffix_json" -> "200",
      "create_no_ct" -> "415",
      "ensure_no_ct" -> "201:created",
      "ensure_wrong_ct" -> "415",
      "patch_wrong_ct" -> "415")) { (_, st) =>
      val (server, endpoint) = graft.log.HttpRecordsServer.start(st, Some(1000L))
      try {
        import graft.log.HttpRecordsClient.{requestAny, requestBinary}
        st.catalog.createStream("demo-basin1", "ct")
        val url = s"$endpoint/v1/streams/ct/records"
        val hdr = Seq("s2-basin" -> "demo-basin1")
        val body = """{"records":[{"body":"c"}]}""".getBytes("UTF-8")
        def code(r: (Int, Array[Byte], String)) = r._1.toString
        // ensure with NO content type = no body (JsonOpt None) =
        // default config; a fresh stream provisions 201 created
        // (requestAny sends no Content-Type when there is no body)
        val (ensC, _, ensH) = requestAny("PUT",
          s"$endpoint/v1/streams/ct-ens", hdr)
        val ensTag = ensH.firstValue("s2-provision-result").orElse("?")
        Seq(
          "append_no_ct" -> code(requestBinary("POST", url, hdr, body)),
          "append_wrong_ct" -> code(requestBinary("POST", url,
            hdr :+ ("Content-Type" -> "text/plain"), body)),
          "append_json_ct" -> code(requestBinary("POST", url,
            hdr :+ ("Content-Type" -> "application/json; charset=utf-8"), body)),
          "append_suffix_json" -> code(requestBinary("POST", url,
            hdr :+ ("Content-Type" -> "application/vnd.s2+json"), body)),
          "create_no_ct" -> code(requestBinary("POST",
            s"$endpoint/v1/streams", hdr, """{"stream":"ct2"}""".getBytes("UTF-8"))),
          "ensure_no_ct" -> s"$ensC:$ensTag",
          "ensure_wrong_ct" -> code(requestBinary("PUT",
            s"$endpoint/v1/streams/ct-ens2",
            hdr :+ ("Content-Type" -> "text/plain"),
            """{"retention_policy":{"age":"infinite"}}""".getBytes("UTF-8"))),
          {
            val (c, _, _) = requestAny("PATCH", s"$endpoint/v1/streams/ct",
              hdr :+ ("Content-Type" -> "text/plain"), "{}".getBytes("UTF-8"))
            "patch_wrong_ct" -> c.toString
          })
      } finally server.stop(0)
    },

    // The v1 CATALOG serving surface: basins + streams CRUD over the
    // same HTTP server — the other two non-stub handler files in the
    // reference's lite router (basins.rs/streams.rs; access-tokens,
    // metrics and locations are NotImplemented in lite). Exercises the
    // reference status-code/header contract end-to-end: 201 +
    // s2-provision-result on create, 409 duplicate, idempotent
    // s2-request-token retry as noop, PUT ensure's
    // created->noop->updated ladder, tri-state PATCH (absent keeps,
    // value sets), merged stream-config GET, paged list, and 202
    // Accepted deletes that 404 on re-access.
    demo("e2e_http_catalog", Seq(
      "create_basin" -> "201:created",
      "create_dup" -> "409",
      "idem_retry" -> "201:noop",
      "ensure_ladder" -> "201:created,200:noop,200:updated",
      "patch_flag_keeps_cipher" -> "true:aegis-256",
      "stream_create" -> "201:created:aegis-256",
      "merged_config" -> "standard,age:3600",
      "stream_patch" -> "express,age:3600",
      "list_page" -> "s-a,s-b,more=true",
      "delete_stream" -> "202,404",
      "delete_basin" -> "202,404",
      // C6 over the wire: after PATCHing create_stream_on_append on,
      // appending to a nonexistent stream provisions it in-band
      "auto_create_on_append" -> "404,200,true")) { (_, st) =>
      val (server, endpoint) = graft.log.HttpRecordsServer.start(st, Some(1000L))
      try {
        import graft.log.HttpRecordsClient.requestAny
        def utf8(s: String) = s.getBytes("UTF-8")
        def prov(h: java.net.http.HttpHeaders): String =
          h.firstValue("s2-provision-result").orElse("?")
        val basins = s"$endpoint/v1/basins"
        val xCfg =
          """{"basin":"hc-basin-x1","config":{"stream_cipher":"aegis-256",
            |"default_stream_config":{"storage_class":"standard",
            |"retention_policy":{"age":3600}}}}""".stripMargin
        val (c1, _, h1) = requestAny("POST", basins, Nil, utf8(xCfg))
        val (c2, _, _) = requestAny("POST", basins, Nil, utf8(xCfg))
        val tok = Seq("s2-request-token" -> "hc-tok-1")
        requestAny("POST", basins, tok, utf8("""{"basin":"hc-basin-y1"}"""))
        val (c3, _, h3) =
          requestAny("POST", basins, tok, utf8("""{"basin":"hc-basin-y1"}"""))
        val ensureBody = utf8("""{"config":{"create_stream_on_append":true}}""")
        val ladder = Seq(
          requestAny("PUT", s"$basins/hc-basin-z1", Nil, ensureBody),
          requestAny("PUT", s"$basins/hc-basin-z1", Nil, ensureBody),
          requestAny("PUT", s"$basins/hc-basin-z1", Nil,
            utf8("""{"config":{"create_stream_on_append":false}}""")))
          .map { case (c, _, h) => s"$c:${prov(h)}" }.mkString(",")
        val (_, pb, _) = requestAny("PATCH", s"$basins/hc-basin-x1", Nil,
          utf8("""{"create_stream_on_read":true}"""))
        def field(json: String, re: String): String =
          re.r.findFirstMatchIn(json).map(_.group(1)).getOrElse("?")
        val patchFlag = field(pb, """"create_stream_on_read":(\w+)""") + ":" +
          field(pb, """"stream_cipher":"([^"]+)"""")
        // streams under the new basin (s2-basin header routing)
        val hdr = Seq("s2-basin" -> "hc-basin-x1")
        val streams = s"$endpoint/v1/streams"
        val (sc, sb, sh) = requestAny("POST", streams, hdr,
          utf8("""{"stream":"s-a"}"""))
        val streamCreate =
          s"$sc:${prov(sh)}:${field(sb, """"cipher":"([^"]+)"""")}"
        def cfgView(json: String): String =
          field(json, """"storage_class":"(\w+)"""") + "," +
            "age:" + field(json, """"retention_policy":\{"age":(\d+)""")
        val (_, g1, _) = requestAny("GET", s"$streams/s-a", hdr)
        val (_, p1, _) = requestAny("PATCH", s"$streams/s-a", hdr,
          utf8("""{"storage_class":"express"}"""))
        requestAny("POST", streams, hdr, utf8("""{"stream":"s-b"}"""))
        requestAny("POST", streams, hdr, utf8("""{"stream":"s-c"}"""))
        val (_, l1, _) = requestAny("GET", s"$streams?prefix=s-&limit=2", hdr)
        val listPage = """"name":"([^"]+)"""".r.findAllMatchIn(l1)
          .map(_.group(1)).mkString(",") +
          s",more=${field(l1, """"has_more":(\w+)""")}"
        val (d1, _, _) = requestAny("DELETE", s"$streams/s-c", hdr)
        val (d2, _, _) = requestAny("GET", s"$streams/s-c", hdr)
        val (d3, _, _) = requestAny("DELETE", s"$basins/hc-basin-z1")
        val (d4, _, _) = requestAny("GET", s"$basins/hc-basin-z1")
        // C6 auto-create through the serving layer: 404 before the
        // flag, 200 + provisioned stream after (hc-basin-y1: no
        // stream cipher, so the keyless append is valid once created)
        val hdrY = Seq("s2-basin" -> "hc-basin-y1")
        val autoBody = utf8("""{"records":[{"body":"auto"}]}""")
        val (ac0, _, _) = requestAny("POST",
          s"$endpoint/v1/streams/auto-s/records", hdrY, autoBody)
        requestAny("PATCH", s"$basins/hc-basin-y1", Nil,
          utf8("""{"create_stream_on_append":true}"""))
        val (ac1, _, _) = requestAny("POST",
          s"$endpoint/v1/streams/auto-s/records", hdrY, autoBody)
        val autoCreated =
          st.catalog.getStream("hc-basin-y1", "auto-s").isDefined
        Seq(
          "create_basin" -> s"$c1:${prov(h1)}",
          "create_dup" -> c2.toString,
          "idem_retry" -> s"$c3:${prov(h3)}",
          "ensure_ladder" -> ladder,
          "patch_flag_keeps_cipher" -> patchFlag,
          "stream_create" -> streamCreate,
          "merged_config" -> cfgView(g1),
          "stream_patch" -> cfgView(p1),
          "list_page" -> listPage,
          "delete_stream" -> s"$d1,$d2",
          "delete_basin" -> s"$d3,$d4",
          "auto_create_on_append" -> s"$ac0,$ac1,$autoCreated")
      } finally server.stop(0)
    },

    // The v1 ACCOUNT serving surface: access tokens, locations and
    // metrics over the same server — routes the reference declares
    // but stubs in lite (access_tokens.rs:44/73/101,
    // locations.rs/metrics.rs NotImplemented), served for REAL here
    // against the C7 token registry, the C8 location registry, and an
    // RPC-level usage meter. The pinned demo clock (1000 ms → minute
    // bucket 0) makes every accumulation bucket deterministic, and the
    // metered-bytes invariant ties two independent paths together:
    // append-throughput (counted at the serving edge) must equal the
    // stream's storage gauge (summed from the stored parquet)
    demo("e2e_http_account", Seq(
      "account_ops" -> "2.0@0",
      "append_throughput_eq_storage" -> "true",
      "read_ops" -> "1.0",
      "basin_ops" -> "1.0",
      "active_basins" -> "hm-basin-a1",
      "token_issue" -> "201:tok-hm-1",
      "token_scope" -> "prefix=logs-;ops=append,get-default-location;stream_read=true",
      "token_dup" -> "409",
      "token_revoke" -> "204,404",
      "location_default" -> "200:aws:us-east-1")) { (_, st) =>
      val (server, endpoint) = graft.log.HttpRecordsServer.start(st, Some(1000L))
      try {
        import graft.log.HttpRecordsClient.requestAny
        def utf8(s: String) = s.getBytes("UTF-8")
        requestAny("POST", s"$endpoint/v1/basins", Nil, utf8(
          """{"basin":"hm-basin-a1","config":{"default_stream_config":
            |{"retention_policy":{"infinite":{}}}}}""".stripMargin))
        val hdr = Seq("s2-basin" -> "hm-basin-a1")
        requestAny("POST", s"$endpoint/v1/streams", hdr, utf8("""{"stream":"m"}"""))
        val rec = s"$endpoint/v1/streams/m/records"
        requestAny("POST", rec, hdr,
          utf8("""{"records":[{"body":"r0"},{"body":"r1"}]}"""))
        requestAny("POST", rec, hdr, utf8("""{"records":[{"body":"r2"}]}"""))
        requestAny("GET", s"$rec?seq_num=0", hdr)

        def point(json: String): String =
          """\[(\d+),([0-9.]+)\]""".r.findFirstMatchIn(json)
            .map(m => s"${m.group(2)}@${m.group(1)}").getOrElse("?")
        def metric(path: String, set: String): String =
          requestAny("GET",
            s"$endpoint/v1/metrics$path?set=$set&start=0&end=300")._2
        val accountOps = point(metric("", "account-ops"))
        val tpVal = point(metric("/hm-basin-a1", "append-throughput"))
          .takeWhile(_ != '@')
        val storageVal = point(requestAny("GET",
          s"$endpoint/v1/metrics/hm-basin-a1/m?set=storage")._2)
          .takeWhile(_ != '@')
        val readOps = point(metric("/hm-basin-a1", "read-ops")).takeWhile(_ != '@')
        val basinOps = point(metric("/hm-basin-a1", "basin-ops")).takeWhile(_ != '@')
        val active = """"values":\["([^"]*)"\]""".r
          .findFirstMatchIn(metric("", "active-basins"))
          .map(_.group(1)).getOrElse("?")

        // tokens: issue / scope round-trip / duplicate / revoke
        val tokUrl = s"$endpoint/v1/access-tokens"
        val issue =
          """{"id":"tok-hm-1","scope":{"streams":{"prefix":"logs-"},
            |"op_groups":{"stream":{"read":true}},
            |"ops":["append","get-default-location"]}}""".stripMargin
        val (tc1, tb1, _) = requestAny("POST", tokUrl, Nil, utf8(issue))
        val tokenIssue = s"$tc1:" + """"access_token":"([^"]+)"""".r
          .findFirstMatchIn(tb1).map(_.group(1)).getOrElse("?")
        val (_, tl, _) = requestAny("GET", tokUrl)
        val tokenScope = Seq(
          "prefix=" + """"streams":\{"prefix":"([^"]*)"\}""".r
            .findFirstMatchIn(tl).map(_.group(1)).getOrElse("?"),
          "ops=" + """"ops":\[([^\]]*)\]""".r.findFirstMatchIn(tl)
            .map(_.group(1).replace("\"", "")).getOrElse("?"),
          "stream_read=" + """"stream":\{"read":(\w+)""".r
            .findFirstMatchIn(tl).map(_.group(1)).getOrElse("?"))
          .mkString(";")
        val (tc2, _, _) = requestAny("POST", tokUrl, Nil, utf8(issue))
        val (tr1, _, _) = requestAny("DELETE", s"$tokUrl/tok-hm-1")
        val (tr2, _, _) = requestAny("DELETE", s"$tokUrl/tok-hm-1")

        // locations: operator-registered, default set over HTTP
        st.catalog.registerLocation("aws:us-east-1")
        val (lc, lb, _) = requestAny("PUT", s"$endpoint/v1/locations/default",
          Nil, utf8(""""aws:us-east-1""""))
        val locDefault = s"$lc:" + """"name":"([^"]+)"""".r
          .findFirstMatchIn(lb).map(_.group(1)).getOrElse("?")

        Seq(
          "account_ops" -> accountOps,
          "append_throughput_eq_storage" ->
            (tpVal != "?" && tpVal == storageVal).toString,
          "read_ops" -> readOps,
          "basin_ops" -> basinOps,
          "active_basins" -> active,
          "token_issue" -> tokenIssue,
          "token_scope" -> tokenScope,
          "token_dup" -> tc2.toString,
          "token_revoke" -> s"$tr1,$tr2",
          "location_default" -> locDefault)
      } finally server.stop(0)
    },

    // Bearer ENFORCEMENT over the whole v1 surface: the C7 scope
    // model actually gates serving (401 missing/unknown/expired, 403
    // out-of-scope op or resource, per-route Operation mapping), and
    // auto_prefix_streams namespaces a tenant's world at the edge —
    // "orders" physically lands on "t1-orders", listings strip the
    // prefix, and a foreign name maps INTO the tenant prefix (404,
    // never a cross-tenant 403 oracle). Tokens are seeded through the
    // catalog: the operator bootstrap path, since token serving
    // itself requires a token.
    demo("e2e_http_auth", Seq(
      "anon_or_bad_bearer" -> "401,401,401",
      "in_scope_data_plane" -> "200,200,200",
      "out_of_scope" -> "403,403,403",
      "ops_union" -> "200,403",
      "auto_prefix_create" -> "t1-orders",
      "auto_prefix_roundtrip" -> "tenant-data",
      "list_stripped" -> "orders:true,t1-:false,foreign:false",
      "token_mgmt_gate" -> "201,403,204",
      // issuance is scope-subset-gated: minting a wider grant than
      // the bearer's own is 403 even inside the managed id namespace
      "issue_escalation" -> "403")) { (sp, _) =>
      // fresh store WITHOUT the open-posture server the other demos
      // use: this one runs requireAuth = true end to end
      val st = new StreamStore(sp,
        Files.createTempDirectory("graft-demo-auth").toString)
      st.catalog.createBasin("auth-basin-a1", BasinConfig(
        defaultStreamConfig =
          StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      st.catalog.createStream("auth-basin-a1", "app-x")
      st.catalog.createStream("auth-basin-a1", "other-s")
      st.catalog.issueToken(AccessToken("rw-tok", AccessTokenScope(
        basins = ResourceSet.Exact("auth-basin-a1"),
        streams = ResourceSet.Prefix("app-"),
        opGroups = PermittedOperationGroups(
          streamRead = true, streamWrite = true))))
      st.catalog.issueToken(AccessToken("old-tok", AccessTokenScope(
        basins = ResourceSet.Prefix(""), streams = ResourceSet.Prefix(""),
        opGroups = PermittedOperationGroups(accountWrite = true)),
        expiresAtMs = Some(500L))) // pinned clock is 1000
      st.catalog.issueToken(AccessToken("append-only", AccessTokenScope(
        basins = ResourceSet.Prefix(""), streams = ResourceSet.Prefix(""),
        ops = Set(Op.Append))))
      st.catalog.issueToken(AccessToken("tenant1", AccessTokenScope(
        basins = ResourceSet.Exact("auth-basin-a1"),
        streams = ResourceSet.Prefix("t1-"),
        opGroups = PermittedOperationGroups(
          basinRead = true, basinWrite = true,
          streamRead = true, streamWrite = true)),
        autoPrefixStreams = true))
      st.catalog.issueToken(AccessToken("mgr-sub", AccessTokenScope(
        accessTokens = ResourceSet.Prefix("sub-"),
        ops = Set(Op.IssueAccessToken, Op.RevokeAccessToken))))
      val (server, endpoint) =
        graft.log.HttpRecordsServer.start(st, Some(1000L), requireAuth = true)
      try {
        import graft.log.HttpRecordsClient.requestAny
        def utf8(s: String) = s.getBytes("UTF-8")
        def hdr(tok: String) = Seq("s2-basin" -> "auth-basin-a1",
          "Authorization" -> s"Bearer $tok")
        val rec = s"$endpoint/v1/streams/app-x/records"
        val body = utf8("""{"records":[{"body":"a"}]}""")

        val anon = Seq(
          requestAny("POST", rec, Seq("s2-basin" -> "auth-basin-a1"), body)._1,
          requestAny("POST", rec, hdr("nope-tok"), body)._1,
          requestAny("POST", rec, hdr("old-tok"), body)._1).mkString(",")
        val inScope = Seq(
          requestAny("POST", rec, hdr("rw-tok"), body)._1,
          requestAny("GET", s"$rec?seq_num=0", hdr("rw-tok"))._1,
          requestAny("GET", s"$rec/tail", hdr("rw-tok"))._1).mkString(",")
        val outScope = Seq(
          requestAny("GET", s"$endpoint/v1/streams/sys-y/records?seq_num=0",
            hdr("rw-tok"))._1,
          requestAny("POST", rec, Seq("s2-basin" -> "other-basin-b2",
            "Authorization" -> "Bearer rw-tok"), body)._1,
          requestAny("DELETE", s"$endpoint/v1/streams/app-x",
            hdr("rw-tok"))._1).mkString(",")
        val opsUnion = Seq(
          requestAny("POST", rec, hdr("append-only"), body)._1,
          requestAny("GET", s"$rec?seq_num=0", hdr("append-only"))._1)
          .mkString(",")

        requestAny("POST", s"$endpoint/v1/streams", hdr("tenant1"),
          utf8("""{"stream":"orders"}"""))
        val created =
          if (st.catalog.getStream("auth-basin-a1", "t1-orders").isDefined)
            "t1-orders" else "?"
        requestAny("POST", s"$endpoint/v1/streams/orders/records",
          hdr("tenant1"), utf8("""{"records":[{"body":"tenant-data"}]}"""))
        val roundtrip = st.readBatch("auth-basin-a1", "t1-orders",
          ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
          .map(r => new String(r.body)).mkString(",")
        val (_, lst, _) = requestAny("GET", s"$endpoint/v1/streams",
          hdr("tenant1"))
        val listStripped = Seq(
          "orders:" + lst.contains(""""name":"orders""""),
          "t1-:" + lst.contains("t1-"),
          "foreign:" + lst.contains("other-s")).mkString(",")

        val tokUrl = s"$endpoint/v1/access-tokens"
        def auth(t: String) = Seq("Authorization" -> s"Bearer $t")
        val mgmt = Seq(
          requestAny("POST", tokUrl, auth("mgr-sub"),
            utf8("""{"id":"sub-a","scope":{}}"""))._1,
          requestAny("POST", tokUrl, auth("mgr-sub"),
            utf8("""{"id":"other-a","scope":{}}"""))._1,
          requestAny("DELETE", s"$tokUrl/sub-a", auth("mgr-sub"))._1)
          .mkString(",")
        val escalation = requestAny("POST", tokUrl, auth("mgr-sub"),
          utf8("""{"id":"sub-esc","scope":{
            |"op_groups":{"account":{"write":true}}}}""".stripMargin))._1

        Seq(
          "anon_or_bad_bearer" -> anon,
          "in_scope_data_plane" -> inScope,
          "out_of_scope" -> outScope,
          "ops_union" -> opsUnion,
          "auto_prefix_create" -> created,
          "auto_prefix_roundtrip" -> roundtrip,
          "list_stripped" -> listStripped,
          "token_mgmt_gate" -> mgmt,
          "issue_escalation" -> escalation.toString)
      } finally server.stop(0)
    },

    // T5 — basin deletion: every stream terminally trimmed, basin marked
    demo("e2e_t5_basin_delete", Seq(
      "streams_deletion_pending" -> "3",
      "append_rejected" -> "StreamDeletionPending",
      "basin_gone" -> "true",
      "list_excludes_deleted" -> "0")) { (_, st) =>
      st.catalog.createBasin("demo-basin3",
        BasinConfig(defaultStreamConfig =
          StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      (1 to 3).foreach { i =>
        st.catalog.createStream("demo-basin3", s"s$i")
        st.append("demo-basin3", s"s$i", AppendInput(Seq(rec("x"))), Some(1000))
      }
      st.deleteBasin("demo-basin3")
      val pending = (1 to 3).count(i =>
        st.manifest("demo-basin3", s"s$i").deletionPending)
      val rejected = st.append("demo-basin3", "s1",
        AppendInput(Seq(rec("y"))), Some(1000)) match {
        case Left(AppendError.StreamDeletionPending) => "StreamDeletionPending"
        case other => other.toString
      }
      Seq(
        "streams_deletion_pending" -> pending.toString,
        "append_rejected" -> rejected,
        "basin_gone" -> st.catalog.getBasin("demo-basin3").isEmpty.toString,
        "list_excludes_deleted" ->
          st.catalog.listStreams("demo-basin3").items.size.toString)
    },

    // C5 — three-layer config resolution (stream > basin > system)
    demo("e2e_c5_config_merge", Seq(
      "stream_overrides" -> "Age(60)",
      "basin_default_applies" -> "Arrival",
      "system_default_applies" -> "Express")) { (_, st) =>
      st.catalog.createBasin("demo-basin4",
        BasinConfig(defaultStreamConfig = StreamConfig(
          timestamping = Some(Timestamping(TimestampingMode.Arrival)))))
      st.catalog.createStream("demo-basin4", "c5",
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Age(60))))
      val c = st.catalog.streamConfig("demo-basin4", "c5").get
      Seq(
        "stream_overrides" -> (c.retentionPolicy.get match {
          case RetentionPolicy.Age(s) => s"Age($s)"
          case other => other.toString
        }),
        "basin_default_applies" -> c.timestampingOrDefault.mode.toString
          .replaceAll(".*\\$", ""),
        "system_default_applies" -> c.storageClassOrDefault.toString
          .replaceAll(".*\\$", ""))
    },

    // M5 — server metrics: deterministic histogram counts
    demo("e2e_m5_server_metrics", Seq(
      "ack_observations" -> "2",
      "batch_records_le_10_cum" -> "2",
      "exposition_has_types" -> "true")) { (_, st) =>
      graft.log.ServerMetrics.reset()
      st.catalog.createStream("demo-basin1", "m5")
      st.append("demo-basin1", "m5", AppendInput(Seq(rec("a"))), Some(1000))
      st.append("demo-basin1", "m5",
        AppendInput((0 until 5).map(i => rec(s"b$i"))), Some(1000))
      val text = graft.log.ServerMetrics.gather()
      val le10 = text.linesIterator
        .find(_.startsWith("s2_append_batch_records_bucket{le=\"10.0\"}"))
        .map(_.split(' ').last).getOrElse("?")
      Seq(
        "ack_observations" ->
          graft.log.ServerMetrics.appendAckLatency.count.toString,
        "batch_records_le_10_cum" -> le10,
        "exposition_has_types" ->
          (text.contains("# TYPE s2_append_ack_latency_seconds histogram") &&
           text.contains("# TYPE s2_append_batch_bytes histogram")).toString)
    },

    // C4 at basin level — PATCH a live basin (basins.rs:161-180): flips
    // create_stream_on_append without delete+recreate; auto-created
    // streams observe the patched defaults; Clear restores the default
    demo("e2e_basin_reconfigure", Seq(
      "before_patch_append" -> "StreamNotFound",
      "patch_applies" -> "auto_on,Arrival",
      "after_patch_append" -> "ok",
      "auto_created_ts_is_arrival" -> "1000",
      "clear_restores_default" -> "auto_off",
      "ensure_basin" -> "Created,Noop,Updated")) { (_, st) =>
      st.catalog.createBasin("demo-basin6").fold(e => sys.error(e), identity)
      val before = st.append("demo-basin6", "auto",
        AppendInput(Seq(rec("a")), clientTimestamps = Seq(Some(500L))), Some(1000)) match {
        case Left(e) => e.toString
        case Right(_) => "ok"
      }
      val patched = st.catalog.reconfigureBasin("demo-basin6", BasinConfigPatch(
        defaultStreamConfig = StreamConfigPatch(
          timestamping = Patch.Set(Timestamping(TimestampingMode.Arrival)),
          retentionPolicy = Patch.Set(RetentionPolicy.Infinite)),
        createStreamOnAppend = Patch.Set(true))).toOption.get
      val after = st.append("demo-basin6", "auto",
        AppendInput(Seq(rec("a")), clientTimestamps = Seq(Some(500L))), Some(1000)) match {
        case Left(e) => e.toString
        case Right(_) => "ok"
      }
      val ts = st.readBatch("demo-basin6", "auto",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get.head.timestamp
      st.catalog.reconfigureBasin("demo-basin6",
        BasinConfigPatch(createStreamOnAppend = Patch.Clear))
      val cleared = st.catalog.basinConfig("demo-basin6").createStreamOnAppend
      val ensures = Seq(
        st.catalog.ensureBasin("demo-basin7",
          BasinConfig(createStreamOnRead = true)),
        st.catalog.ensureBasin("demo-basin7",
          BasinConfig(createStreamOnRead = true)),
        st.catalog.ensureBasin("demo-basin7",
          BasinConfig(createStreamOnRead = false)))
        .map(_.toOption.get.toString.replaceAll(".*\\$", "")).mkString(",")
      Seq(
        "before_patch_append" -> before,
        "patch_applies" -> (s"${if (patched.createStreamOnAppend) "auto_on" else "auto_off"}," +
          patched.defaultStreamConfig.timestampingOrDefault.mode.toString.replaceAll(".*\\$", "")),
        "after_patch_append" -> after,
        "auto_created_ts_is_arrival" -> ts.toString,
        "clear_restores_default" -> (if (cleared) "auto_on" else "auto_off"),
        "ensure_basin" -> ensures)
    },

    // A3 on the bulk path — ingest honors each stream's merged
    // timestamping config (mode -> cap -> monotone), exactly like unary
    // append (streamer.rs:964-1008); ClientRequire with a missing
    // client timestamp rejects the batch and commits nothing.
    demo("e2e_ingest_ts_modes", Seq(
      "prefer" -> "0@500,1@1000,2@1000",
      "arrival" -> "0@1000",
      "uncapped" -> "0@5000",
      "require_ok" -> "0@700",
      "require_missing" -> "TimestampMissing",
      "tails_after_reject" -> "prefer=3,arrival=1,uncapped=1,require=1")) { (sp, st) =>
      import sp.implicits._
      st.catalog.createStream("demo-basin1", "prefer")
      st.catalog.createStream("demo-basin1", "arrival", StreamConfig(
        timestamping = Some(Timestamping(TimestampingMode.Arrival))))
      st.catalog.createStream("demo-basin1", "uncapped", StreamConfig(
        timestamping = Some(Timestamping(TimestampingMode.ClientPrefer, uncapped = true))))
      st.catalog.createStream("demo-basin1", "require", StreamConfig(
        timestamping = Some(Timestamping(TimestampingMode.ClientRequire))))
      def ingestDf(rows: Seq[(String, Option[Long], Long)]) =
        rows.toDF("stream", "ts_client", "arrival")
          .select(org.apache.spark.sql.functions.lit("demo-basin1").as("basin"),
            org.apache.spark.sql.functions.col("stream"),
            org.apache.spark.sql.functions.col("ts_client"),
            org.apache.spark.sql.functions
              .expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)").as("headers"),
            org.apache.spark.sql.functions.lit("x".getBytes).as("body"),
            org.apache.spark.sql.functions.col("arrival"))
      st.ingest(ingestDf(Seq(
        ("prefer", Some(500L), 1L), ("prefer", None, 2L), ("prefer", Some(5000L), 3L),
        ("arrival", Some(500L), 1L),
        ("uncapped", Some(5000L), 1L),
        ("require", Some(700L), 1L))), nowMs = Some(1000L))
      def readBack(stream: String): String =
        st.readBatch("demo-basin1", stream, ReadSpec(ReadStart(ReadFrom.SeqNum(0))))
          .toOption.get.map(r => s"${r.seqNum}@${r.timestamp}").mkString(",")
      val rejected = scala.util.Try(
        st.ingest(ingestDf(Seq(("require", None, 1L))), nowMs = Some(1000L))) match {
        case scala.util.Failure(t) =>
          val msgs = Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
            .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
          if (msgs.contains("TimestampMissing")) "TimestampMissing" else msgs.take(80)
        case scala.util.Success(_) => "accepted"
      }
      Seq(
        "prefer" -> readBack("prefer"),
        "arrival" -> readBack("arrival"),
        "uncapped" -> readBack("uncapped"),
        "require_ok" -> readBack("require"),
        "require_missing" -> rejected,
        "tails_after_reject" -> Seq("prefer", "arrival", "uncapped", "require")
          .map(s2 => s"$s2=${st.checkTail("demo-basin1", s2).seqNum}").mkString(","))
    },

    // C7 — access-token scope authorization matrix
    demo("e2e_c7_access", Seq(
      "read_op_in_scope" -> "true",
      "write_op_denied" -> "false",
      "basin_out_of_scope" -> "false",
      "expired" -> "false",
      "auto_prefix" -> "tenant42-orders")) { (_, _) =>
      val t = AccessToken("tok1", AccessTokenScope(
        basins = ResourceSet.Exact("prod-basin-1"),
        streams = ResourceSet.Prefix("app-"),
        opGroups = PermittedOperationGroups(accountRead = true)),
        expiresAtMs = Some(5000L))
      val auto = AccessToken("tok2", AccessTokenScope(
        streams = ResourceSet.Prefix("tenant42-")), autoPrefixStreams = true)
      Seq(
        "read_op_in_scope" -> t.authorize(Op.Read, "prod-basin-1", "app-x", 100).toString,
        "write_op_denied" -> t.authorize(Op.Append, "prod-basin-1", "app-x", 100).toString,
        "basin_out_of_scope" -> t.authorize(Op.Read, "other-basin1", "app-x", 100).toString,
        "expired" -> t.authorize(Op.Read, "prod-basin-1", "app-x", 5000).toString,
        "auto_prefix" -> auto.effectiveStreamName("orders"))
    },

    // Batch-trained model SERVED IN A STREAM: the deployment shape
    // every production quality filter uses — train the hashed-bigram
    // NB model over the batch corpus (the exact
    // text_quality_model pipeline, shared via
    // qualityTrainArtifacts), collect the bounded weight table
    // (<= 65536 rows — a fastText-style model artifact), and apply
    // it to a live followed stream as a PURE SCALAR expression: a
    // map literal + one bounded fold per record. No state store, no
    // aggregation — the gate composes with any downstream streaming
    // op and costs one narrow projection per microbatch at any
    // scale. The teeth: spam-marker records are dropped while clean
    // records pass, and a checkpointed restart picks up ONLY the
    // newly appended clean record (offsets resume; nothing is
    // re-scored or re-emitted).
    QueryDef("e2e_stream_quality_gate",
      (sp, d) => withDemoPartitions(sp) {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types.{BinaryType, LongType}
        val st = freshStore(sp)
        st.catalog.createStream("demo-basin1", "qg")
        val (_, totals, weights) = PipelineOps.qualityTrainArtifacts(sp, d)
        val tr = totals.collect().head
        val (npos, nneg) = (tr.getLong(0), tr.getLong(1))
        val defaultMicros = math.floor(
          (math.log(1.0 / (npos + 65536.0)) -
            math.log(1.0 / (nneg + 65536.0))) * 1000000 + 0.5).toLong
        val wMap = weights.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        val mapCol = typedLit(wMap)
        def score(body: org.apache.spark.sql.Column) = {
          val toks = split(body, " ")
          val hs = transform(sequence(lit(1), size(toks) - 1), i =>
            conv(substring(md5(concat(element_at(toks, i), lit(" "),
              element_at(toks, i + 1)).cast(BinaryType)), 1, 8), 16, 10)
              .cast(LongType) % 65536L)
          when(size(toks) >= 2,
            aggregate(hs, lit(0L), (acc, h) =>
              acc + coalesce(element_at(mapCol, h), lit(defaultMicros))))
            .otherwise(lit(0L))
        }
        def run(): Seq[String] = {
          val q = sp.readStream.format("graft-stream")
            .option("root", st.root).option("basin", "demo-basin1")
            .option("stream", "qg").load()
            .selectExpr("CAST(body AS STRING) AS body")
            .withColumn("score_micros", score(col("body")))
            .where(col("score_micros") > 0L)
            .select(expr("split(body, ' ')[0]").as("id"))
            .writeStream.format("parquet")
            .option("path", s"${st.root}/_qgsink")
            .option("checkpointLocation", s"${st.root}/_qgckpt")
            .outputMode("append").start()
          try q.processAllAvailable() finally q.stop()
          sp.read.parquet(s"${st.root}/_qgsink")
            .collect().map(_.getString(0)).toSeq.sorted
        }
        st.append("demo-basin1", "qg", AppendInput(Seq(
          rec("q1 sort merge batch window scan"),
          rec("q2 click here buy now free winner"),
          rec("q3 data query scan filter group"),
          rec("q4 subscribe today limited offer unsubscribe instantly"))),
          Some(1000))
        val first = run()
        st.append("demo-basin1", "qg", AppendInput(Seq(
          rec("q5 merge sort join group table"),
          rec("q6 free winner click here buy now"))), Some(2000))
        val second = run()
        out(sp, Seq(
          "trained_buckets_bounded" ->
            (wMap.nonEmpty && wMap.size <= 65536).toString,
          "first_run_kept" -> first.mkString(","),
          "resume_kept_new_only" ->
            (second.toSet -- first.toSet).toSeq.sorted.mkString(","),
          "spam_never_passes" ->
            second.forall(id => id != "q2" && id != "q4" && id != "q6").toString))
      },
      Some(constOracle(Seq(
        "trained_buckets_bounded" -> "true",
        "first_run_kept" -> "q1,q3",
        "resume_kept_new_only" -> "q5",
        "spam_never_passes" -> "true")))),

    // ANN index as a STORAGE LAYOUT: ann_ivf_kmeans recomputes cell
    // assignments per query run; a production system trains once,
    // writes the corpus partitioned by learned cell, and lets every
    // later query batch read only its probed cells. This demo proves
    // the whole loop on real Spark machinery: partitionBy("cell")
    // parquet write -> Catalyst turns the probe predicate into
    // PartitionFilters (directory-level pruning — the scan never
    // lists the other cells' files) -> the disk path returns
    // BIT-IDENTICAL top-10s to the in-memory path. At 100 TB the
    // pruned read is nprobe/k of the corpus per query batch; the
    // check rows pin that the pruning actually happened in the plan,
    // not just that the answer came out right.
    QueryDef("e2e_ann_index",
      (s, d) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val all = QueryDef.fanOut(s.read.parquet(s"$d/embeddings.parquet"))
          .select(col("vec_id"), col("embedding"))
        val ranks = AnalyticsOps.kmeansCellRanks(all, AnalyticsOps.KmK, 2)
          .select("vec_id", "cluster", "arn").localCheckpoint()
        val tmp = Files.createTempDirectory("graft-annidx").toString
        all.join(ranks.where(col("arn") === 1), "vec_id")
          .select(col("vec_id"), col("embedding"), col("cluster").as("cell"))
          // cluster by cell before the partitioned write: one task per
          // cell dir writes one scan-sized file (guide §6)
          .repartition(col("cell"))
          .write.partitionBy("cell").mode("overwrite").parquet(tmp)
        val cellsOnDisk = new java.io.File(tmp).listFiles()
          .count(_.getName.startsWith("cell="))
        val probes = ranks.where(col("vec_id") < 5 && col("arn") <= 2)
          .join(all.where(col("vec_id") < 5), "vec_id")
          .select(col("vec_id").as("q_id"), col("embedding").as("vq"),
            col("cluster").as("cell"))
          .localCheckpoint()
        val probeCells = probes.select("cell").distinct()
          .collect().map(_.getInt(0)).sorted
        def top10(neighbors: DataFrame): Array[(Long, Long, Double)] = {
          val w = Window.partitionBy("q_id")
            .orderBy(col("score").desc, col("n_id"))
          neighbors.join(broadcast(probes), "cell")
            .where(col("n_id") =!= col("q_id"))
            .withColumn("score",
              round(graft.functions.GraftFunctions.cosine_sim(
                col("vq"), col("ve")), 6))
            .withColumn("rank", row_number().over(w))
            .where(col("rank") <= 10)
            .select("q_id", "n_id", "score")
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
            .sortBy(t => (t._1, -t._3, t._2))
        }
        val pruned = s.read.parquet(tmp)
          .where(col("cell").isin(probeCells.map(Integer.valueOf).toSeq: _*))
        // the scan must prune at the DIRECTORY level: the predicate
        // shows up as PartitionFilters on the FileScan, with no data
        // filter doing the work instead
        val planStr = pruned.queryExecution.executedPlan.toString
        val pushed = planStr.contains("PartitionFilters: [") &&
          !planStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
            .trim.isEmpty
        val fromDisk = top10(pruned
          .select(col("vec_id").as("n_id"), col("embedding").as("ve"), col("cell")))
        val fromMemory = top10(all.join(ranks.where(col("arn") === 1), "vec_id")
          .select(col("vec_id").as("n_id"), col("embedding").as("ve"),
            col("cluster").as("cell")))
        val prunedRows = pruned.count()
        val totalRows = all.count()
        out(s, Seq(
          "cells_on_disk" -> cellsOnDisk.toString,
          "partition_filter_pushed" -> pushed.toString,
          "pruned_read_is_partial" ->
            (prunedRows > 0 && prunedRows < totalRows).toString,
          "disk_equals_memory_top10" ->
            (fromDisk.nonEmpty && fromDisk.sameElements(fromMemory)).toString))
      },
      Some(constOracle(Seq(
        "cells_on_disk" -> "8",
        "partition_filter_pushed" -> "true",
        "pruned_read_is_partial" -> "true",
        "disk_equals_memory_top10" -> "true")))),

    // CONTINUOUS ANN-index ingestion — e2e_ann_index proves the
    // static layout (train once, write partitioned by cell, probe
    // prunes directories); this proves the layout stays LIVE: new
    // vectors arrive on a followed stream, each is assigned its cell
    // by the same broadcast-centroid distance rule as a stateless
    // scalar expression, and foreachBatch appends it into the
    // cell-partitioned index — the shape continuous embedding ingest
    // takes at 100 TB (no index rebuild, no shuffle; a micro-batch
    // touches only the cell dirs its vectors map to). A probe after
    // each run reads ONLY the probed cell (PartitionFilters pinned)
    // and must see the just-streamed vectors; a checkpointed restart
    // appends exactly the new arrivals (offsets resume — no replay,
    // no duplicate rows). Exactly-once caveat, documented: a crash
    // BETWEEN foreachBatch's write and the offset commit would
    // replay one micro-batch; production pairs this sink with the
    // epoch-id dedup the bulk-ingest path already implements.
    QueryDef("e2e_stream_ann_ingest",
      (sp, _) => withDemoPartitions(sp) {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.Column
        val st = freshStore(sp)
        st.catalog.createStream("demo-basin1", "ann")
        val idx = Files.createTempDirectory("graft-annstream").toString
        // fixed unit centroids c0=(1,0,0,0), c1=(0,1,0,0)
        def cellOf(x: Column, y: Column, z: Column, w: Column): Column =
          when((x - 1) * (x - 1) + y * y + z * z + w * w
            <= x * x + (y - 1) * (y - 1) + z * z + w * w, 0).otherwise(1)
        // initial (batch-trained) index: one vector per cell
        val init = sp.createDataFrame(Seq(
            (100L, 0.8, 0.2, 0.0, 0.0), (101L, 0.1, 0.9, 0.1, 0.0)))
          .toDF("vec_id", "vx", "vy", "vz", "vw")
          .withColumn("cell", cellOf(col("vx"), col("vy"), col("vz"), col("vw")))
        init.write.partitionBy("cell").mode("overwrite").parquet(idx)
        def run(): Unit = {
          val q = sp.readStream.format("graft-stream")
            .option("root", st.root).option("basin", "demo-basin1")
            .option("stream", "ann").load()
            .selectExpr("CAST(body AS STRING) AS b")
            .selectExpr("CAST(split(b, ',')[0] AS BIGINT) AS vec_id",
              "CAST(split(b, ',')[1] AS DOUBLE) AS vx",
              "CAST(split(b, ',')[2] AS DOUBLE) AS vy",
              "CAST(split(b, ',')[3] AS DOUBLE) AS vz",
              "CAST(split(b, ',')[4] AS DOUBLE) AS vw")
            .withColumn("cell",
              cellOf(col("vx"), col("vy"), col("vz"), col("vw")))
            .writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.partitionBy("cell").mode("append").parquet(idx)
            }
            .option("checkpointLocation", s"${st.root}/_annckpt")
            .start()
          try q.processAllAvailable() finally q.stop()
        }
        def vec(id: Long, x: Double, y: Double): EnvelopeRecord =
          rec(s"$id,$x,$y,0.0,0.0")
        st.append("demo-basin1", "ann", AppendInput(Seq(
          vec(1, 0.9, 0.1),    // -> cell 0
          vec(2, 0.2, 1.1))),  // -> cell 1
          Some(1000))
        run()
        st.append("demo-basin1", "ann", AppendInput(Seq(
          vec(3, 0.05, 0.95))), // -> cell 1, across a restart
          Some(2000))
        run()
        val byCell = sp.read.parquet(idx).groupBy("cell").count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).sorted
          .map { case (c, n) => s"$c:$n" }.mkString(",")
        // probe near c1: reads ONLY cell=1 and must serve vec 3
        val probe = sp.read.parquet(idx).where(col("cell") === 1)
        val planStr = probe.queryExecution.executedPlan.toString
        val pushed = planStr.contains("PartitionFilters: [") &&
          !planStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
            .trim.isEmpty
        val servedIds = probe.select("vec_id").collect()
          .map(_.getLong(0)).sorted.toSeq
        val allIds = sp.read.parquet(idx).select("vec_id").collect()
          .map(_.getLong(0)).toSeq
        out(sp, Seq(
          "index_rows_by_cell" -> byCell,
          "probed_cell_serves_streamed_vecs" ->
            (servedIds == Seq(2L, 3L, 101L)).toString,
          "partition_filter_pushed" -> pushed.toString,
          "no_dup_after_restart" ->
            (allIds.size == allIds.distinct.size).toString))
      },
      Some(constOracle(Seq(
        "index_rows_by_cell" -> "0:2,1:3",
        "probed_cell_serves_streamed_vecs" -> "true",
        "partition_filter_pushed" -> "true",
        "no_dup_after_restart" -> "true")))),

    // The INVERTED INDEX as a storage layout — e2e_ann_index's text
    // sibling: postings (term, doc_id, tf, dlen) written
    // partitionBy(term-hash-bucket) so a query touches only its
    // terms' bucket DIRECTORIES (PartitionFilters pushed, proven
    // in-plan), corpus stats (n_docs, total length) persisted beside
    // the postings as the index's metadata table, and BM25 scored
    // FROM THE DISK INDEX reproducing the from-memory scorer
    // (AnalyticsOps.bm25DocMicros) integer-for-integer. At 100 TB the
    // postings table is the big artifact (built once per index
    // build), bucket count scales with vocabulary, and a 3-term
    // query reads 3/16ths of the directories regardless of corpus
    // size.
    QueryDef("e2e_bm25_index",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val terms = Seq("spark", "join", "window")
        // raw scan, NOT fanned: toks feeds two map-side-combined
        // groupBys referenced from three subtrees, so a fanned reader
        // planned one repartition exchange per subtree and regressed
        // the demo in both r21 driver artifacts (2.63 -> 3.42/4.72 s)
        // — the same multi-consumer class the bm25 scorer's toks table
        // already reverted (r21 batch 6)
        val toks = s.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val dl = toks.groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("dlen"))
        val postings = toks.groupBy("term", "doc_id")
          .agg(count(lit(1)).cast("long").as("tf"))
          .join(dl, "doc_id")
          .withColumn("tb", pmod(hash(col("term")), lit(16)))
        val tmp = Files.createTempDirectory("graft-bm25idx").toString
        // direct partitioned write, NO repartition(col("tb")) first:
        // r21 added the pre-write clustering for guide-§6 file sizing,
        // but both r21 driver artifacts measured it a net loss at this
        // corpus size (the extra exchange of the whole postings table
        // costs more than the tidier layout saves the three probe
        // reads; r22 A/B: shuffle bytes halve, wall equal-or-better
        // without it). At 100 TB an index BUILD would cluster before
        // the write — by (tb, doc_id-range), not bare tb, so the
        // shuffle spreads over more than #buckets keys (§2.5)
        postings.write.partitionBy("tb")
          .mode("overwrite").parquet(s"$tmp/postings")
        dl.agg(count(lit(1)).cast("long").as("n_docs"),
            sum("dlen").cast("long").as("tot"))
          .write.mode("overwrite").parquet(s"$tmp/stats")
        val bucketsOnDisk = new java.io.File(s"$tmp/postings").listFiles()
          .count(_.getName.startsWith("tb="))
        // probe: only the query terms' buckets may be read
        val qtb = terms.map(t =>
          s.range(1).select(pmod(hash(lit(t)), lit(16))).collect()(0).getInt(0))
          .distinct.sorted
        val prunedScan = s.read.parquet(s"$tmp/postings")
          .where(col("tb").isin(qtb.map(Integer.valueOf): _*))
        val planStr = prunedScan.queryExecution.executedPlan.toString
        val pushed = planStr.contains("PartitionFilters: [") &&
          !planStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
            .trim.isEmpty
        val stats = s.read.parquet(s"$tmp/stats")
        val dfreq = prunedScan.where(col("term").isin(terms: _*))
          .groupBy("term").agg(count(lit(1)).cast("long").as("df"))
        val diskScored = prunedScan.where(col("term").isin(terms: _*))
          .join(broadcast(dfreq), "term")
          .crossJoin(broadcast(stats))
          .withColumn("micros", expr(
            """CAST(floor(
                 ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                 * (tf * 2.2)
                 / (tf + 1.2 * (0.25 + 0.75 * dlen * n_docs / CAST(tot AS DOUBLE)))
                 * 1000000 + 0.5) AS BIGINT)"""))
          .groupBy("doc_id").agg(sum("micros").cast("long").as("micros"))
          .orderBy(col("micros").desc, col("doc_id")).limit(10)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val memScored = AnalyticsOps.bm25DocMicros(s, d)
          .orderBy(col("micros").desc, col("doc_id")).limit(10)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val prunedRows = prunedScan.count()
        val totalRows = s.read.parquet(s"$tmp/postings").count()
        out(s, Seq(
          // bucket count is vocabulary-dependent (and so SF-dependent);
          // the stable claim is "bucketed, and bounded by the bucket
          // modulus", not an exact count
          "buckets_bounded" ->
            (bucketsOnDisk > 1 && bucketsOnDisk <= 16).toString,
          "partition_filter_pushed" -> pushed.toString,
          "pruned_read_is_partial" ->
            (prunedRows > 0 && prunedRows < totalRows).toString,
          "disk_equals_memory_top10" ->
            (diskScored.nonEmpty && diskScored.sameElements(memScored)).toString))
      },
      Some(constOracle(Seq(
        "buckets_bounded" -> "true",
        "partition_filter_pushed" -> "true",
        "pruned_read_is_partial" -> "true",
        "disk_equals_memory_top10" -> "true")))),

    // BUCKETED co-located join — the "pay the shuffle once" storage
    // layout for 100 TB fact tables: orders and customer are written
    // as bucketed tables on the join key (8 buckets), so the repeated
    // join reads bucket i against bucket i with ZERO shuffle on
    // either input — proven in-plan by counting hash Exchanges in the
    // executed (post-AQE) plan: the bucketed query keeps exactly the
    // ONE exchange the post-join re-aggregation needs, while the same
    // join over plain parquet pays that one PLUS one per join input.
    // Broadcast is scope-disabled so the comparison is SMJ-vs-SMJ
    // (at real scale neither side broadcasts). Result equality is
    // checked on exact integer aggregates (no fp-reorder noise).
    QueryDef("e2e_bucketed_join",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val tmp = Files.createTempDirectory("graft-bucketed").toString
        s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
        s.sql("DROP TABLE IF EXISTS graft_bkt_customer")
        s.read.parquet(s"$d/orders.parquet")
          .write.format("parquet").option("path", s"$tmp/orders")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .saveAsTable("graft_bkt_orders")
        s.read.parquet(s"$d/customer.parquet")
          .write.format("parquet").option("path", s"$tmp/customer")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .saveAsTable("graft_bkt_customer")
        def agg(orders: DataFrame, cust: DataFrame): DataFrame = orders
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("o_orderkey")).cast("long").as("key_sum"))
        def exchanges(df: DataFrame): (Int, Seq[org.apache.spark.sql.Row]) = {
          val rows = df.collect() // materialize so AQE finalizes the plan
          // the adaptive plan's toString appends an "== Initial Plan =="
          // section that repeats every node — count the final plan only
          val plan = df.queryExecution.executedPlan.toString
            .split("== Initial Plan ==")(0)
          ("Exchange hashpartitioning".r.findAllIn(plan).length,
            rows.sortBy(_.getString(0)).toSeq)
        }
        val (bktEx, bktRows) = withScopedConf(s,
          "spark.sql.autoBroadcastJoinThreshold", "-1") {
          exchanges(agg(s.table("graft_bkt_orders"),
            s.table("graft_bkt_customer")))
        }
        val (plainEx, plainRows) = withScopedConf(s,
          "spark.sql.autoBroadcastJoinThreshold", "-1") {
          exchanges(agg(s.read.parquet(s"$d/orders.parquet"),
            s.read.parquet(s"$d/customer.parquet")))
        }
        out(s, Seq(
          "bucketed_join_exchanges" -> bktEx.toString,
          "plain_join_exchanges" -> plainEx.toString,
          "results_equal" ->
            (bktRows.nonEmpty && bktRows == plainRows).toString))
      },
      Some(constOracle(Seq(
        "bucketed_join_exchanges" -> "1",
        "plain_join_exchanges" -> "3",
        "results_equal" -> "true")))),

    // TLS serving (server.rs:8,26-60): the SAME router over HTTPS.
    // The `--tls-self` analog generates a self-signed cert with the
    // reference's loopback SAN set (rcgen::generate_simple_self_signed,
    // server.rs:251-259); the client here PINS the served cert rather
    // than disabling verification. Proven end-to-end: handshake +
    // unary append/read over TLS, SSE over TLS, an UNTRUSTING client
    // refused at handshake (no cleartext fallback), and the object
    // backend doing a meta CAS round trip through an https endpoint.
    // Cert/key PEM-file loading (RustlsConfig::from_pem_file parity)
    // is covered in TlsSpec.
    demo("e2e_http_tls", Seq(
      "scheme" -> "https",
      "append_over_tls" -> "200:0..2",
      "unary_read_over_tls" -> "t0,t1",
      "sse_over_tls" -> "t0,t1",
      "untrusted_client_refused" -> "true",
      "object_https_cas" ->
        "put:ok,stale_cas_rejected:true,tagged_cas:ok")) { (_, st) =>
      import graft.log.{HttpRecordsClient, Tls}
      val tls = Tls.selfSigned()
      val (server, endpoint) = graft.log.HttpRecordsServer.start(
        st, Some(1000L), tls = Some(tls))
      val (oserver, oep) = graft.log.HttpObjectServer.start(tls = Some(tls))
      try {
        st.catalog.createStream("demo-basin1", "tl")
        val base = s"$endpoint/v1/streams/tl/records"
        val hdr = Seq("s2-basin" -> "demo-basin1")
        // an untrusting client must be refused at the handshake
        HttpRecordsClient.clientTls(None)
        val refused =
          try { HttpRecordsClient.request("GET", s"$base/tail", hdr); false }
          catch {
            case _: javax.net.ssl.SSLHandshakeException => true
            case _: java.io.IOException => true
          }
        HttpRecordsClient.clientTls(Some(Tls.clientContext(tls.certPem)))
        def seqOf(json: String, field: String): String =
          (s""""$field":\\{"seq_num":(\\d+)""").r
            .findFirstMatchIn(json).map(_.group(1)).getOrElse("?")
        def bodiesOf(json: String): String =
          """"body":"([^"]+)"""".r.findAllMatchIn(json)
            .map(_.group(1)).mkString(",")
        val (a1, ack) = HttpRecordsClient.request("POST", base, hdr,
          """{"records":[{"body":"t0"},{"body":"t1"}]}""".getBytes("UTF-8"))
        val (_, rd) = HttpRecordsClient.request("GET", s"$base?seq_num=0", hdr)
        val sse = HttpRecordsClient.readSse(s"$base?seq_num=0&wait=1", hdr)
        val sseBodies = sse.collect {
          case HttpRecordsClient.SseEvent(Some("batch"), _, d) => bodiesOf(d)
        }.mkString(",")
        // object backend over https with the pinned cert
        val ob = new graft.log.HttpObjectBackend(oep,
          Some(Tls.clientContext(tls.certPem)))
        ob.putMeta("tls-demo/m.json", """{"v":1}""")
        val tag = ob.getMeta("tls-demo/m.json", fresh = true).map(_._2)
        val stale = ob.casMeta("tls-demo/m.json", """{"v":2}""",
          Some("bogus-tag")).isLeft
        val tagged = ob.casMeta("tls-demo/m.json", """{"v":2}""", tag).isRight
        Seq(
          "scheme" -> endpoint.takeWhile(_ != ':'),
          "append_over_tls" ->
            s"$a1:${seqOf(ack, "start")}..${seqOf(ack, "end")}",
          "unary_read_over_tls" -> bodiesOf(rd),
          "sse_over_tls" -> sseBodies,
          "untrusted_client_refused" -> refused.toString,
          "object_https_cas" ->
            (s"put:${if (tag.isDefined) "ok" else "missing"}," +
              s"stale_cas_rejected:$stale," +
              s"tagged_cas:${if (tagged) "ok" else "rejected"}"))
      } finally {
        HttpRecordsClient.clientTls(None); server.stop(0); oserver.stop(0)
      }
    },

    // CLI front end (cli/src/cli.rs + record_format.rs): the human
    // surface over the same HTTP routes — create/append/cat/tail/
    // check-tail/fence/trim/ls/config — with the reference's three
    // record renderings. The round trip proves the FORMATTING rules,
    // not just transport: text mode prints lossy bodies and describes
    // command records on stderr (record_format.rs Text: "Headers
    // cannot be represented"); base64 mode round-trips headers+body
    // as [name,value] pairs byte-exactly (json::Formatter<true>).
    demo("e2e_cli_roundtrip", Seq(
      "create_stream" -> "rc=0",
      "append_rcs" -> "0,0",
      "cat_text" -> "alpha,beta,gamma,delta",
      "check_tail" -> "4 @ 1000",
      "cat_base64_last" ->
        """{"seq_num":3,"timestamp":1000,"headers":[["aw==","dg=="]],"body":"ZGVsdGE="}""",
      "post_trim_text" -> "gamma,delta",
      "command_stderr" ->
        "new fencing token \"tok1\" // 4 @ 1000;trim to 2 // 5 @ 1000",
      "tail_last3" -> "delta",
      "config_ls" -> "demo-basin1")) { (_, st) =>
      val (server, endpoint) = graft.log.HttpRecordsServer.start(st, Some(1000L))
      try {
        val tmp = Files.createTempDirectory("graft-cli")
        def cli(args: String*): (Int, String, String) = {
          val o = new java.io.ByteArrayOutputStream
          val e = new java.io.ByteArrayOutputStream
          val rc = graft.tools.Cli.run(
            args.toSeq ++ Seq("--endpoint", endpoint),
            new java.io.PrintStream(o, true, "UTF-8"),
            new java.io.PrintStream(e, true, "UTF-8"))
          (rc, new String(o.toByteArray, "UTF-8").trim,
            new String(e.toByteArray, "UTF-8").trim)
        }
        val uri = "s2://demo-basin1/cli"
        val (rcCreate, _, _) = cli("create-stream", uri)
        val in1 = tmp.resolve("in.txt")
        Files.writeString(in1, "alpha\nbeta\ngamma\n")
        val (rcA1, _, _) = cli("append", uri, "-i", in1.toString)
        val in2 = tmp.resolve("in.json")
        Files.writeString(in2,
          """{"headers":[["k","v"]],"body":"delta"}""" + "\n")
        val (rcA2, _, _) = cli("append", uri, "-i", in2.toString,
          "--format", "json")
        val (_, catText, _) = cli("cat", uri)
        val (_, tailPos, _) = cli("check-tail", uri)
        val (_, catB64, _) = cli("cat", uri, "--format", "base64")
        cli("fence", uri, "tok1")
        cli("trim", uri, "2")
        val (_, postTrim, cmdErr) = cli("cat", uri)
        val (_, lastN, _) = cli("tail", uri, "-n", "3")
        // config file flow: endpoint resolved from the config, not a flag
        val cfg = tmp.resolve("config.json").toString
        val oc = new java.io.ByteArrayOutputStream
        val ec = new java.io.ByteArrayOutputStream
        val po = new java.io.PrintStream(oc, true, "UTF-8")
        val pe = new java.io.PrintStream(ec, true, "UTF-8")
        graft.tools.Cli.run(
          Seq("config", "set", "endpoint", endpoint, "--config", cfg), po, pe)
        graft.tools.Cli.run(Seq("ls", "--config", cfg), po, pe)
        val lsOut = new String(oc.toByteArray, "UTF-8").trim
        Seq(
          "create_stream" -> s"rc=$rcCreate",
          "append_rcs" -> s"$rcA1,$rcA2",
          "cat_text" -> catText.linesIterator.mkString(","),
          "check_tail" -> tailPos,
          "cat_base64_last" -> catB64.linesIterator.toSeq.last,
          "post_trim_text" -> postTrim.linesIterator.mkString(","),
          "command_stderr" -> cmdErr.linesIterator.mkString(";"),
          "tail_last3" -> lastN.linesIterator.mkString(","),
          "config_ls" -> lsOut.linesIterator.mkString(","))
      } finally server.stop(0)
    }
  )
}
