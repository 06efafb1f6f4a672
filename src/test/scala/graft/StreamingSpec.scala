package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingJobs

/** End-to-end Structured Streaming tests via MemoryStream (SURVEY §5.2.3/5). */
@SlowTest
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("parseWithDlq routes malformed payloads to the dead-letter channel (S10/P4)") {
    import spark.implicits._
    val good =
      """{"kafkaNotification":{"eventTime":1,"operationType":"ENTITY_CREATE","guid":"g1"},
        |"atlasEntity":{"guid":"g1","typeName":"m4i_data_domain",
        |"attributes":{"qualifiedName":"q"},"createTime":1,"updateTime":1}}"""
        .stripMargin.replaceAll("\n", "")
    val bad = """{"oops": true}"""
    val notJson = "not json at all"
    val parsed = StreamingJobs.parseWithDlq(
      Seq(good, bad, notJson).toDF("value"), "get_entity")
    assert(StreamingJobs.validRows(parsed).count() == 1)
    val dlq = StreamingJobs.deadLetters(parsed).collect()
    assert(dlq.length == 2)
    assert(dlq.forall(_.getAs[String]("job") == "get_entity"))
    assert(dlq.forall(_.getAs[Double]("timestamp") > 0))
  }

  test("versionTransitions keeps per-guid latest state, drops late rows (J3 streaming)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(String, Long, String, String, Map[String, String])]
    val out = StreamingJobs.versionTransitions(input.toDS())
    val q = out.writeStream.format("memory").queryName("vt")
      .outputMode("append").start()
    try {
      input.addData(
        ("g1", 100L, "ENTITY_CREATE", "t", Map("a" -> "1")),
        ("g1", 200L, "ENTITY_UPDATE", "t", Map("a" -> "2")),
        ("g2", 150L, "ENTITY_CREATE", "t", Map("b" -> "1")))
      q.processAllAvailable()
      input.addData(
        ("g1", 50L, "ENTITY_UPDATE", "t", Map("a" -> "0")), // late → DLQ row
        ("g1", 300L, "ENTITY_UPDATE", "t", Map("a" -> "3")))
      q.processAllAvailable()
      val rows = spark.table("vt").collect()
      val (lateRows, accepted) = rows.partition(_.getAs[Boolean]("late"))
      assert(accepted.length == 4) // 100, 200, 150, 300 — not 50
      val g1 = accepted.filter(_.getAs[String]("guid") == "g1")
        .map(_.getAs[Long]("updateTime")).sorted
      assert(g1.toSeq == Seq(100L, 200L, 300L))
      // the late event is ACCOUNTED (VERDICT r4 #3), not silently dropped...
      assert(lateRows.length == 1)
      assert(lateRows.head.getAs[Long]("updateTime") == 50L)
      // ...and did not mutate state: 300's old side is still 200's attrs
      val last = accepted.find(_.getAs[Long]("updateTime") == 300L).get
      assert(last.getAs[Map[String, String]]("oldAttributes") == Map("a" -> "2"))
    } finally q.stop()
  }

  test("lateDrops routes late rows to the S10 dead-letter shape") {
    import spark.implicits._
    val vts = Seq(
      StreamingJobs.VersionTransition("g1", 300L, "ENTITY_UPDATE", "t",
        Map("a" -> "2"), Map("a" -> "3")),
      StreamingJobs.VersionTransition("g1", 50L, "ENTITY_UPDATE", "t",
        Map("a" -> "2"), Map("a" -> "0"), late = true)).toDS()
    assert(StreamingJobs.acceptedTransitions(vts).collect()
      .map(_.updateTime).toSeq == Seq(300L))
    val dlq = StreamingJobs.lateDrops(vts).collect()
    assert(dlq.length == 1)
    val r = dlq.head
    assert(r.getAs[String]("job") == "determine_change")
    assert(r.getAs[Double]("timestamp") > 0)
    assert(r.getAs[String]("originalNotification").contains("\"g1\"") &&
      r.getAs[String]("originalNotification").contains("50"))
    // schema-compatible with the parse DLQ channel (same sink)
    val parseDlq = StreamingJobs.deadLetters(StreamingJobs.parseWithDlq(
      Seq("junk").toDF("value"), "get_entity"))
    assert(parseDlq.schema.fieldNames.toSet ==
      StreamingJobs.lateDrops(vts).schema.fieldNames.toSet)
  }

  test("ENTITY_DELETE evicts per-guid state; a later create resurrects from empty") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(String, Long, String, String, Map[String, String])]
    // NOTE: stateTtl arms ProcessingTimeTimeout, which schedules
    // timeout-check batches continuously — incompatible with
    // processAllAvailable()'s no-new-batch wait, so the TTL arm is
    // exercised in deployments with a real trigger interval; this test
    // pins the delete-eviction path
    val out = StreamingJobs.versionTransitions(input.toDS())
    val q = out.writeStream.format("memory").queryName("vt_ttl")
      .outputMode("append").start()
    try {
      input.addData(
        ("g1", 100L, "ENTITY_CREATE", "t", Map("a" -> "1")),
        ("g1", 200L, "ENTITY_DELETE", "t", Map.empty[String, String]))
      q.processAllAvailable()
      // state for g1 must be GONE: an event with an OLDER updateTime would
      // be dropped as late if state survived the delete — its acceptance
      // (with an EMPTY old side) proves eviction
      input.addData(("g1", 150L, "ENTITY_CREATE", "t", Map("a" -> "9")))
      q.processAllAvailable()
      val rows = spark.table("vt_ttl").collect()
      assert(rows.map(_.getAs[Long]("updateTime")).sorted.toSeq ==
        Seq(100L, 150L, 200L))
      val resurrected = rows.find(_.getAs[Long]("updateTime") == 150L).get
      assert(resurrected.getAs[Map[String, String]]("oldAttributes").isEmpty)
    } finally q.stop()
  }

  test("windowed streaming counts under watermark match batch semantics (§2.7)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String)] // (epochSec, event_type)
    val events = input.toDS().toDF("sec", "event_type")
      .withColumn("tts", timestamp_seconds(col("sec")))
    val agg = StreamingJobs.windowedCounts(events)
    val q = agg.writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    try {
      input.addData((0L, "a"), (30L, "a"), (301L, "a"), (400L, "b"))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select(unix_timestamp(col("window.start")).as("ws"),
          col("event_type"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set((0L, "a", 2L), (300L, "a", 1L), (300L, "b", 1L)))
    } finally q.stop()
  }

  test("streaming sync applies microbatches to the doc store and recovers from checkpoint") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sync").toString
    val store = new graft.store.DocumentStore(spark, s"$dir/store")

    def emptyDocs = {
      val creates = Seq.empty[(String, String, String, String, Long,
          Map[String, String], String, Boolean, Boolean)]
        .toDF("guid", "typeName", "qualifiedName", "eventType", "seq",
          "attributes", "parentGuid", "parentRemoved", "directChange")
        .withColumn("name", lit(null).cast("string"))
        .withColumn("definition", lit(null).cast("string"))
        .withColumn("email", lit(null).cast("string"))
      graft.docs.DocumentAlgebra.createDocs(creates)
    }
    def msg(guid: String, etype: String, attrs: Map[String, String], seq: Long) =
      (guid, "m4i_data_domain", guid, etype, seq, attrs,
        null: String, false, true)

    val input = MemoryStream[(String, String, String, String, Long,
      Map[String, String], String, Boolean, Boolean)]
    def startQuery() = StreamingJobs.syncToDocumentStore(
      input.toDS().toDF("guid", "typeName", "qualifiedName", "eventType",
        "seq", "attributes", "parentGuid", "parentRemoved", "directChange"),
      store, emptyDocs, s"$dir/ckpt").start()

    val q1 = startQuery()
    try {
      input.addData(msg("g1", "EntityCreated", Map("name" -> "One"), 1L))
      q1.processAllAvailable()
      assert(store.read().get.count() == 1)
      input.addData(msg("g2", "EntityCreated", Map("name" -> "Two"), 2L))
      q1.processAllAvailable()
      assert(store.read().get.count() == 2)
    } finally q1.stop()

    // restart from the checkpoint: only NEW data is processed, store continues
    val v = store.currentVersion.get
    val q2 = startQuery()
    try {
      input.addData(msg("g1", "EntityAttributeAudit",
        Map("name" -> "One-renamed"), 3L))
      q2.processAllAvailable()
      val docs = store.read().get
      assert(docs.count() == 2)
      assert(docs.filter(col("guid") === "g1").collect().head
        .getAs[String]("name") == "One-renamed")
      assert(store.currentVersion.get > v)
    } finally q2.stop()
  }

  test("in-flight streaming dedup drops re-arrivals within the watermark") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingDedup.inFlight(
        input.toDS().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("inflight_dedup")
      .outputMode("append").start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    try {
      input.addData((1L, ts(100), "aaa"), (2L, ts(101), "bbb"))
      q.processAllAvailable()
      // same content re-arrives in a LATER microbatch, still in horizon
      input.addData((3L, ts(102), "aaa"), (4L, ts(103), "ccc"))
      q.processAllAvailable()
      val got = spark.table("inflight_dedup")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L, 4L), s"got $got")
    } finally q.stop()
  }

  test("incremental dedup survives against prior hashes, idempotent on replay") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-incdedup").toString
    val (store, out) = (s"$dir/hashes", s"$dir/docs")
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.incrementalDedup(
      input.toDS().toDF("doc_id", "text"), store, out, s"$dir/ckpt").start()
    try {
      // batch 0: in-batch duplicate (1,3) — min doc_id survives
      input.addData((1L, "aaa"), (2L, "bbb"), (3L, "aaa"))
      q.processAllAvailable()
      // batch 1: cross-batch duplicate (4) vs novel (5)
      input.addData((4L, "bbb"), (5L, "ccc"))
      q.processAllAvailable()
      val survivors = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(survivors == Set(1L, 2L, 5L), s"got $survivors")
      // replay batch 1 (failure retry): reads only batch<1 hashes, so the
      // rewrite is byte-identical — survivors unchanged, no double-drop
      val replayBatch = Seq((4L, "bbb"), (5L, "ccc")).toDF("doc_id", "text")
      graft.streaming.StreamingDedup.dedupBatch(spark, store, out)(replayBatch, 1L)
      val again = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(again == Set(1L, 2L, 5L), s"replay diverged: $again")
    } finally q.stop()
  }

  test("incremental soft-dedup ledger equals the batch ledger; replay idempotent") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-softledger").toString
    val store = s"$dir/counts"
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text", "source", "n_chars")
    def slice(k: Int) = docs.filter(col("doc_id") % 3 === k)
    (0 until 3).foreach(k => graft.streaming.StreamingDedup
      .softCountsBatch(spark, store)(slice(k), k.toLong))
    val batch = llm.Dedup.softDedup(spark, sfDir)
    val ledger = graft.streaming.StreamingDedup.softLedger(spark, store)
    assert(ledger.except(batch).count() == 0 &&
      batch.except(ledger).count() == 0,
      "incremental ledger diverged from the batch ledger")
    // replay increment 1 (failure retry): rewrites only its own
    // partition — the ledger is unchanged
    graft.streaming.StreamingDedup.softCountsBatch(spark, store)(
      slice(1), 1L)
    val again = graft.streaming.StreamingDedup.softLedger(spark, store)
    assert(again.except(batch).count() == 0 &&
      batch.except(again).count() == 0, "replay diverged")
    // the writer stamps the store's merge semantics explicitly
    assert(graft.streaming.StreamingDedup.hasCountSemantics(spark, store),
      "softCountsBatch did not stamp _COUNT_SEMANTICS")
  }

  test("compaction refuses a count-semantics store even with a renamed column") {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft-cntguard").toString
    // three batch dirs whose count column is NOT named "cnt" — the
    // column-name fallback cannot fire; only the marker protects them
    (0 to 2).foreach { k =>
      Seq(("h" + k, "web", 2L)).toDF("h", "source", "tally")
        .write.mode("overwrite").parquet(s"$store/batch=$k")
    }
    assert(new java.io.File(store, "_COUNT_SEMANTICS").createNewFile())
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.compactHashes(spark, store, 1L)
    }
    assert(e.getMessage.contains("_COUNT_SEMANTICS"), e.getMessage)
  }

  test("hash-store compaction preserves the dedup-visible hash set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val (store, out) = (s"$dir/hashes", s"$dir/docs")
    def run(batch: Seq[(Long, String)], id: Long) =
      graft.streaming.StreamingDedup.dedupBatch(spark, store, out)(
        batch.toDF("doc_id", "text"), id)
    run(Seq((1L, "aaa"), (2L, "bbb")), 0L)
    run(Seq((3L, "ccc")), 1L)
    run(Seq((4L, "ddd")), 2L)
    val before = graft.streaming.StreamingDedup.readHashes(spark, store)
      .get.select("h").collect().map(_.getString(0)).toSet
    graft.streaming.StreamingDedup.compactHashes(spark, store, 1L)
    // batches 0,1 merged into batch=1; visible hash set unchanged
    val dirs = new java.io.File(store).listFiles().map(_.getName).toSet
    assert(dirs == Set("batch=1", "batch=2"), dirs)
    val after = graft.streaming.StreamingDedup.readHashes(spark, store)
      .get.select("h").collect().map(_.getString(0)).toSet
    assert(after == before)
    // a NEW batch dedups identically against the compacted store
    run(Seq((5L, "aaa"), (6L, "eee")), 3L)
    val survivors = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L, 3L, 4L, 6L), survivors)
  }

  test("incremental near-dup drops near (not exact) re-arrivals; replay idempotent") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    val (sigs, out) = (s"$dir/sigs", s"$dir/docs")
    val base = "the quick brown fox jumps over the lazy dog while seven " +
      "wizards brew strong coffee under a pale morning sky before the long " +
      "journey home begins again"
    val nearIn = base.replace("morning", "evening") // in-batch near-dup of 1
    val nearX = base.replace("coffee", "tea")       // cross-batch near-dup of 1
    val other = "completely different content about distributed systems " +
      "and parquet column pruning at scale with no overlap whatsoever in " +
      "any shingle of this text"
    val novel = "yet another unrelated document mentioning broadcast " +
      "joins adaptive execution and shuffle partitions tuned for large " +
      "clusters running structured streaming pipelines"
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.incrementalNearDup(
      input.toDS().toDF("doc_id", "text"), sigs, out, s"$dir/ckpt").start()
    try {
      input.addData((1L, base), (2L, other), (7L, nearIn))
      q.processAllAvailable()
      // doc 3 is a NEAR dup (different md5), doc 4 is novel
      input.addData((3L, nearX), (4L, novel))
      q.processAllAvailable()
      val survivors = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(survivors == Set(1L, 2L, 4L), s"got $survivors")
      // replay batch 1: reads only batch<1 signatures → identical rewrite
      val replay = Seq((3L, nearX), (4L, novel)).toDF("doc_id", "text")
      graft.streaming.StreamingDedup.nearDupBatch(spark, sigs, out)(replay, 1L)
      val again = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(again == Set(1L, 2L, 4L), s"replay diverged: $again")
      // the signature store holds band rows for EVERY ingested doc —
      // dropped docs included, so transitive chains keep dropping
      val stored = graft.streaming.StreamingDedup.readSignatures(spark, sigs)
        .get.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(stored == Set(1L, 2L, 3L, 4L, 7L), stored)
    } finally q.stop()
  }

  test("near-dup chains drop transitively across batches (A-B-C)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ndchain").toString
    val (sigs, out) = (s"$dir/sigs", s"$dir/docs")
    val a = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen " +
      "nineteen twenty twentyone twentytwo twentythree twentyfour"
    // replacement positions chosen so the 8-component minhash estimates
    // satisfy the premise exactly — est(A,B)=0.875, est(B,C)=0.5,
    // est(A,C)=0.375 — AND each qualifying hop shares a full LSH band
    // (bucket-join candidates need 2 consecutive matching components,
    // not just 4 of 8; verified against an out-of-band reimplementation)
    val b = a.replace("one ", "ONE ").replace("two ", "TWO ")
    val c = b.replace("five ", "FIVE ").replace("nine ", "NINE ")
    // premise: each hop is a near-dup, the span A→C is not
    val sig = graft.llm.Dedup.signatureTable(
      Seq(1L -> a, 3L -> b, 5L -> c).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(x: Seq[Long], y: Seq[Long]) =
      x.zip(y).count(p => p._1 == p._2) / 8.0
    assert(est(sig(1L), sig(3L)) >= 0.5, s"A~B ${est(sig(1L), sig(3L))}")
    assert(est(sig(3L), sig(5L)) >= 0.5, s"B~C ${est(sig(3L), sig(5L))}")
    assert(est(sig(1L), sig(5L)) < 0.5, s"A~C ${est(sig(1L), sig(5L))}")
    def run(batch: Seq[(Long, String)], id: Long) =
      graft.streaming.StreamingDedup.nearDupBatch(spark, sigs, out)(
        batch.toDF("doc_id", "text"), id)
    run(Seq(1L -> a), 0L)
    run(Seq(3L -> b), 1L) // dropped against A, signature still stored
    run(Seq(5L -> c), 2L) // must drop against stored B, not reachable via A
    val survivors = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L), survivors)
  }

  test("signature-store compaction preserves near-dup behavior") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sigcomp").toString
    val (sigs, out) = (s"$dir/sigs", s"$dir/docs")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    def run(batch: Seq[(Long, String)], id: Long) =
      graft.streaming.StreamingDedup.nearDupBatch(spark, sigs, out)(
        batch.toDF("doc_id", "text"), id)
    run(Seq(1L -> base), 0L)
    run(Seq(2L -> ("totally different words about spark shuffles and " +
      "broadcast joins in large clusters running batch pipelines")), 1L)
    run(Seq(3L -> ("a third distinct document that shares no shingles " +
      "with either of the previous two ingests at all")), 2L)
    graft.streaming.StreamingDedup.compactSignatures(spark, sigs, 1L)
    // a near-dup of batch 0's doc still drops against the compacted store
    run(Seq(4L -> base.replace("omega", "OMEGA")), 3L)
    val survivors = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L, 3L), survivors)
  }

  test("a survivor linked to prior corpus only via a dropped sibling drops too") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ndgap").toString
    val (sigs, out) = (s"$dir/sigs", s"$dir/docs")
    // same programmatically-found fixture as the A-B-C chain test:
    // est(a,b)=0.875, est(b,c)=0.5, est(a,c)=0.375, qualifying hops share
    // a full LSH band
    val a = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen " +
      "nineteen twenty twentyone twentytwo twentythree twentyfour"
    val b = a.replace("one ", "ONE ").replace("two ", "TWO ")
    val c = b.replace("five ", "FIVE ").replace("nine ", "NINE ")
    def run(batch: Seq[(Long, String)], id: Long) =
      graft.streaming.StreamingDedup.nearDupBatch(spark, sigs, out)(
        batch.toDF("doc_id", "text"), id)
    run(Seq(1L -> a), 0L) // prior corpus P = a
    // one batch holding A = c (min id → in-batch survivor, NOT similar to
    // P) and B = b (similar to both): batch dupClustersOf would cluster
    // {P, A, B} and keep only P — the streaming path must agree (ADVICE
    // r5: the prior check is per in-batch cluster, not per doc)
    run(Seq(2L -> c, 9L -> b), 1L)
    val survivors = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L), survivors)
  }

  test("signature store caps hot buckets and keeps recall (VERDICT r5 #3)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ndcap").toString
    val (sigs, out) = (s"$dir/sigs", s"$dir/docs")
    val boiler = "this website uses cookies to improve your experience " +
      "please accept our privacy policy and terms of service before " +
      "continuing to the requested page content below"
    val cap = 4
    def run(batch: Seq[(Long, String)], id: Long) =
      graft.streaming.StreamingDedup.nearDupBatch(
        spark, sigs, out, 0.5, cap)(batch.toDF("doc_id", "text"), id)
    // a degenerate batch: 12 identical boilerplate docs collapse into ONE
    // band bucket per band — without the cap the store would accumulate
    // all 12 signatures per bucket, and every future batch's probe join
    // would fan out against them
    run((1L to 12L).map(_ -> boiler), 0L)
    val bucketSizes = graft.streaming.StreamingDedup
      .readSignatures(spark, sigs).get
      .groupBy("band", "bh").count().collect().map(_.getLong(2))
    assert(bucketSizes.nonEmpty && bucketSizes.forall(_ <= cap),
      bucketSizes.toSeq)
    run((21L to 32L).map(_ -> boiler), 1L) // more of the same boilerplate
    run(Seq(50L -> ("entirely different content about shuffle hash joins " +
      "and adaptive query execution in distributed engines")), 2L)
    // compaction re-caps merged batches: ≤ 2·cap per bucket visible
    graft.streaming.StreamingDedup.compactSignatures(spark, sigs, 1L, cap)
    val after = graft.streaming.StreamingDedup
      .readSignatures(spark, sigs).get
      .groupBy("band", "bh").count().collect().map(_.getLong(2))
    assert(after.forall(_ <= 2L * cap), after.toSeq)
    // recall through the capped store: a near-dup of the boilerplate
    // (similar to capped-AWAY members exactly as much as to the retained
    // representatives) still drops; novel content still survives
    run(Seq(60L -> boiler.replace("cookies", "COOKIES"), 61L ->
      ("novel text mentioning broadcast variables accumulators and " +
        "structured streaming watermarks in production pipelines")), 3L)
    val survivors = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 50L, 61L), survivors)
  }

  test("capBandRows keeps a probe path to every distinct erased signature") {
    import spark.implicits._
    // doc 9 carries a UNIQUE signature but every one of its buckets is
    // dominated by a lower-id crowd of a DIFFERENT signature — the cap
    // alone would erase doc 9 from the store entirely, and a later
    // near-dup of doc 9 would slip through as novel
    val sigA = Seq(1L); val sigB = Seq(2L)
    val rows = (for {
      d <- 1L to 3L; b <- 0 to 3
    } yield (d, sigA, b, s"h$b")) ++ (0 to 3).map(b => (9L, sigB, b, s"h$b"))
    val capped = graft.streaming.StreamingDedup.capBandRows(
      rows.toDF("doc_id", "sig", "band", "bh"), cap = 2).collect()
    val byBucket = capped.groupBy(r => (r.getInt(2), r.getString(3)))
    // doc 9's signature survives via exactly one floor row
    val doc9 = capped.filter(_.getLong(0) == 9L)
    assert(doc9.length == 1, capped.mkString("\n"))
    // doc 3 (erased everywhere too) adds NOTHING: its signature already
    // rides on kept docs 1-2
    assert(!capped.exists(_.getLong(0) == 3L))
    // bucket bound: cap, +1 only where the floor row landed
    assert(byBucket.values.forall(_.length <= 3))
    assert(byBucket.values.count(_.length == 3) == 1)
  }

  test("compaction retry after a crash mid-delete does not regrow buckets") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ndretry").toString
    val (sigs, out) = (s"$dir/sigs", s"$dir/docs")
    val boiler = "cookie banner text accept all manage preferences reject " +
      "nonessential tracking continue to site content"
    val cap = 4
    def run(batch: Seq[(Long, String)], id: Long) =
      graft.streaming.StreamingDedup.nearDupBatch(
        spark, sigs, out, 0.5, cap)(batch.toDF("doc_id", "text"), id)
    run((1L to 10L).map(_ -> boiler), 0L)
    run((21L to 30L).map(_ -> boiler), 1L)
    run(Seq(50L -> "something else entirely about columnar storage"), 2L)
    // preserve batch 0's rows, compact, then simulate the crash window:
    // batch=0 was already merged into batch=1 but its delete never ran
    val batch0 = spark.read.parquet(s"$sigs/batch=0").collect()
    graft.streaming.StreamingDedup.compactSignatures(spark, sigs, 1L, cap)
    val after1 = spark.read.parquet(s"$sigs/batch=1").count()
    val schema = spark.read.parquet(s"$sigs/batch=1").schema
    spark.createDataFrame(
      spark.sparkContext.parallelize(batch0.toSeq), schema)
      .write.mode("overwrite").parquet(s"$sigs/batch=0")
    graft.streaming.StreamingDedup.compactSignatures(spark, sigs, 1L, cap)
    // the retry anti-joined the already-merged rows away: no growth
    assert(spark.read.parquet(s"$sigs/batch=1").count() == after1)
    assert(!new java.io.File(s"$sigs/batch=0").exists())
  }

  test("compaction refuses replay-unsafe targets (ADVICE r4)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact2").toString
    val (store, out) = (s"$dir/hashes", s"$dir/docs")
    def run(batch: Seq[(Long, String)], id: Long) =
      graft.streaming.StreamingDedup.dedupBatch(spark, store, out)(
        batch.toDF("doc_id", "text"), id)
    run(Seq((1L, "aaa")), 0L)
    run(Seq((2L, "bbb")), 1L)
    // target does not exist: a later replay of it would nuke the compacted set
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.compactHashes(spark, store, 5L)
    }
    // target is the NEWEST partition: inside the replay horizon
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.compactHashes(spark, store, 1L)
    }
    run(Seq((3L, "ccc")), 2L)
    graft.streaming.StreamingDedup.compactHashes(spark, store, 1L) // now safe
    val hashes = graft.streaming.StreamingDedup.readHashes(spark, store)
      .get.select("h").collect().map(_.getString(0)).toSet
    assert(hashes.size == 3)
  }
}

/** Multimodal spec: real javax.imageio decode on synthesized PNG/JPEG
  * payloads, real pixel resize, and the deterministic stub fallback for
  * payloads no codec reads. */
class MultimodalSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.llm.Multimodal
  import graft.llm.Multimodal.MediaRow

  /** Encode a w x h image whose left half is black and right half white. */
  private def halfToneBytes(w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  private def mediaDs(rows: Seq[MediaRow]) = {
    val s = spark; import s.implicits._
    s.createDataset(rows)
  }

  test("frame sampling explodes deterministic opaque frame slices") {
    val media = graft.llm.Multimodal.mediaTable(spark, sfDir)
    val frames = graft.llm.Multimodal.frameSample(media)
    val f0 = frames.filter(col("doc_id") === 0)
      .orderBy("frame_idx").collect()
    assert(f0.nonEmpty)
    assert(f0.map(_.getAs[Int]("frame_idx")).toSeq ==
      f0.indices.map(_ * 4))
    assert(f0.forall(_.getAs[Array[Byte]]("frame_bytes").length <= 16))
    // deterministic across evaluations
    val again = frames.filter(col("doc_id") === 0)
      .orderBy("frame_idx").collect()
    assert(again.map(_.getAs[Array[Byte]]("frame_bytes").toSeq).toSeq ==
      f0.map(_.getAs[Array[Byte]]("frame_bytes").toSeq).toSeq)
  }

  test("non-decodable payloads fall back to the deterministic stub") {
    val media = graft.llm.Multimodal.mediaTable(spark, sfDir) // utf-8 text
    val feats = graft.llm.Multimodal.decodeFeatures(media)
    val r = feats.filter(col("doc_id") === 0).collect().head
    assert(r.media_type == "image")
    assert(r.codec == "stub")
    assert(r.n_bytes > 0 && r.sha256.length == 64)
    assert(r.features.length == Multimodal.FeatureDim)
    assert(r.width >= 16 && r.height >= 16)
    // deterministic: same input → same features
    val r2 = feats.filter(col("doc_id") === 0).collect().head
    assert(r2.features.toSeq == r.features.toSeq)
  }

  test("real PNG and JPEG payloads decode to true geometry and pixel features") {
    val media = mediaDs(Seq(
      MediaRow(1L, "image", halfToneBytes(48, 20, "png")),
      MediaRow(2L, "image", halfToneBytes(64, 32, "jpg"))))
    val feats = Multimodal.decodeFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    val png = feats(1L)
    assert(png.codec == "png" && png.width == 48 && png.height == 20)
    val jpg = feats(2L)
    assert(jpg.codec.startsWith("jp") && jpg.width == 64 && jpg.height == 32)
    // 4x2 luminance grid: left half black (cols 0-1 ~ 0), right white (~1)
    for (f <- Seq(png, jpg); row <- 0 until 2) {
      assert(f.features.length == Multimodal.FeatureDim)
      assert(f.features(row * 4) < 0.1f && f.features(row * 4 + 1) < 0.1f,
        f.features.toSeq)
      assert(f.features(row * 4 + 2) > 0.9f && f.features(row * 4 + 3) > 0.9f,
        f.features.toSeq)
    }
  }

  test("image near-dup pairs a jpeg re-encode with its png, not a different scene") {
    def gradientBytes(w: Int, h: Int, invert: Boolean,
        format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 255) / (w - 1)
        val lv = if (invert) 255 - v else v
        img.setRGB(x, y, lv * 0x10101)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, bos)
      bos.toByteArray
    }
    val media = mediaDs(Seq(
      MediaRow(1L, "image", gradientBytes(32, 16, invert = false, "png")),
      MediaRow(2L, "image", gradientBytes(32, 16, invert = false, "jpg")),
      MediaRow(3L, "image", gradientBytes(32, 16, invert = true, "png")),
      MediaRow(4L, "image", null), // zero features must not NaN the kernel
      MediaRow(5L, "audio", gradientBytes(8, 8, invert = false, "png"))))
    val pairs = Multimodal.imageNearDup(media).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)), s"re-encode not paired: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"inverted scene falsely paired: $pairs")
    assert(!pairs.exists(p => p._1 >= 4L || p._2 >= 4L),
      s"null/non-image rows leaked into the kernel: $pairs")
  }

  test("multimodal release drops a planted jpeg re-encode whose TEXT is novel (VERDICT r10 #4)") {
    def gradientBytes(w: Int, h: Int, invert: Boolean,
        format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 255) / (w - 1)
        val lv = if (invert) 255 - v else v
        img.setRGB(x, y, lv * 0x10101)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, bos)
      bos.toByteArray
    }
    val s = spark; import s.implicits._
    // doc 2 re-posts doc 1's image re-encoded png→jpeg under a NEW
    // caption: text dedup keeps it, the media policy must drop it.
    // doc 3 is a different scene (kept); doc 4 duplicates doc 3's TEXT
    // (text policy drops it); doc 5 has no media (kept).
    val docs = Seq(
      (1L, "en", "original scene with its caption"),
      (2L, "en", "totally different caption same pixels"),
      (3L, "en", "another scene entirely"),
      (4L, "de", "another scene entirely"),
      (5L, "en", "text only document")).toDF("doc_id", "lang", "text")
    val media = mediaDs(Seq(
      MediaRow(1L, "image", gradientBytes(32, 16, invert = false, "png")),
      MediaRow(2L, "image", gradientBytes(32, 16, invert = false, "jpg")),
      MediaRow(3L, "image", gradientBytes(32, 16, invert = true, "png"))))
    val clusters = Multimodal.imageNearDupClusters(media)
    val rel = Multimodal.multimodalRelease(docs, clusters)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // survivors: 1 (canonical image), 3 (distinct scene), 5 (no media)
    // — all "en"; dropped: 2 (media dup), 4 (text dup)
    val enToks = Seq("original scene with its caption",
      "another scene entirely", "text only document")
      .map(_.split("\\s+").length.toLong).sum
    assert(rel.toSeq === Seq(("en", 3L, enToks)), rel.toSeq)
    // and the cluster table really linked the re-encode to the original
    val byDoc = clusters.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc.get(1L) === byDoc.get(2L) && byDoc.contains(1L))
    assert(byDoc.get(3L).forall(_ != byDoc(1L)))
  }

  test("cross-batch near-dup media: a batch-2 jpeg re-encode of a batch-1 png drops via the signature store") {
    // VERDICT r11 #4: the exact-fingerprint incremental ingest let a
    // later batch's pixel re-encode survive; the signature-store arm
    // must catch it — and reproduce the batch composition's manifest
    // over the union
    def gradientBytes(w: Int, h: Int, invert: Boolean,
        format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 255) / (w - 1)
        val lv = if (invert) 255 - v else v
        img.setRGB(x, y, lv * 0x10101)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, bos)
      bos.toByteArray
    }
    val s = spark; import s.implicits._
    val docs0 = Seq(
      (1L, "en", "original scene with its caption"),
      (3L, "en", "another scene entirely"),
      (5L, "en", "text only document")).toDF("doc_id", "lang", "text")
    val docs1 = Seq(
      (6L, "en", "fresh caption for recycled pixels"), // media dup of 1
      (7L, "de", "text only document"),                // text dup of 5
      (8L, "en", "a genuinely new halftone image"),
      (9L, "en", "same-batch re-encode of the halftone")) // dup of 8
      .toDF("doc_id", "lang", "text")
    val media0 = mediaDs(Seq(
      MediaRow(1L, "image", gradientBytes(32, 16, invert = false, "png")),
      MediaRow(3L, "image", gradientBytes(32, 16, invert = true, "png"))))
    val media1 = mediaDs(Seq(
      MediaRow(6L, "image", gradientBytes(32, 16, invert = false, "jpg")),
      MediaRow(8L, "image", halfToneBytes(48, 20, "png")),
      MediaRow(9L, "image", halfToneBytes(48, 20, "jpg"))))
    val dirs = Seq("graft-xnd-t-", "graft-xnd-s-", "graft-xnd-l-")
      .map(java.nio.file.Files.createTempDirectory(_))
    try {
      val Seq(t, sg, l) = dirs.map(_.toString)
      val ingest = graft.streaming.StreamingRelease
        .multimodalIngestNearDupBatch(spark, t, sg, l) _
      ingest(docs0, Multimodal.imageFeatureVectors(media0), 0L)
      ingest(docs1, Multimodal.imageFeatureVectors(media1), 1L)
      def manifest = graft.streaming.StreamingRelease
        .multimodalManifest(spark, l).collect().map(_.toString).toSeq
      val streamed = manifest
      // survivors: 1, 3, 5 (batch 0), 8 (new scene); dropped: 6 (CROSS-
      // batch pixel dup), 7 (text dup), 9 (within-batch pixel dup)
      val ledgerIds = spark.read.option("basePath", l)
        .parquet(s"$l/batch=0", s"$l/batch=1")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ledgerIds === Set(1L, 3L, 5L, 8L), ledgerIds)
      // whole-manifest parity with the batch composition over the union
      val allDocs = docs0.unionByName(docs1)
      val allMedia = mediaDs((media0.collect() ++ media1.collect()).toSeq)
      val batchRel = Multimodal.multimodalRelease(allDocs,
        Multimodal.imageNearDupClusters(allMedia))
        .collect().map(_.toString).toSeq
      assert(streamed === batchRel)
      // replay of batch 1: identical partitions, identical manifest
      ingest(docs1, Multimodal.imageFeatureVectors(media1), 1L)
      assert(manifest === streamed)
      // the store probe is PHYSICAL (VERDICT r12 #3): batch and bkt are
      // both hive partition columns, so "strictly earlier batches, only
      // my buckets" prunes signature directories instead of scanning
      // every prior batch
      val someBkt = spark.read.parquet(sg).select("bkt").distinct()
        .limit(1).collect().map(_.getInt(0)).toSeq
      val pp = graft.streaming.StreamingRelease
        .priorSignatures(spark, sg, 1L, someBkt).get
        .queryExecution.executedPlan.toString
      assert("""PartitionFilters: \[[^\]]*bkt""".r
        .findFirstIn(pp).isDefined, pp)
      assert("""PartitionFilters: \[[^\]]*batch""".r
        .findFirstIn(pp).isDefined, pp)
    } finally dirs.foreach(graft.store.ModelStore.deleteRecursively)
  }

  test("frame sampling decodes REAL frames from an animated GIF") {
    // 6 solid-gray frames (levels 0,40,...,200); GIF palettes preserve
    // solid colors exactly
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (i <- 0 until 6) {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val v = i * 40
      for (y <- 0 until 8; x <- 0 until 8)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()

    val media = mediaDs(Seq(MediaRow(1L, "video", bos.toByteArray)))
    val frames = Multimodal.frameSample(media, everyN = 2)
      .orderBy("frame_idx").collect()
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 2, 4))
    // each sampled frame decodes back to its solid gray level
    frames.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("frame_bytes")))
      val expected = r.getAs[Int]("frame_idx") * 40
      assert((img.getRGB(3, 3) & 0xff) == expected,
        s"frame ${r.getAs[Int]("frame_idx")}")
    }
  }

  test("null payloads flow through decode, frames, and resize as data") {
    val media = mediaDs(Seq(
      MediaRow(1L, "image", null),
      MediaRow(2L, "image", halfToneBytes(16, 16, "png"))))
    val feats = Multimodal.decodeFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    val n = feats(1L)
    assert(n.codec == "null" && n.n_bytes == 0 && n.sha256 == null)
    assert(n.features.toSeq == Seq.fill(Multimodal.FeatureDim)(0f))
    assert(feats(2L).codec == "png") // neighbors unaffected
    val frames = Multimodal.frameSample(media).filter(col("doc_id") === 1)
      .collect()
    assert(frames.length == 1 && frames.head.getAs[Int]("frame_idx") == 0)
    assert(frames.head.getAs[Array[Byte]]("frame_bytes") == null)
    val resized = Multimodal.resize(media, 8, 8)
      .filter(col("doc_id") === 1).collect().head
    assert(resized.payload == null) // pass-through, not an NPE
    val audio = Multimodal.audioMeta(media).collect()
      .map(a => a.doc_id -> a).toMap
    assert(audio(1L).codec == "null" && audio(1L).sample_rate == null)
  }

  /** Encode `frames` frames of silent 16-bit mono PCM at `rate` Hz as WAV. */
  private def wavBytes(rate: Float, frames: Int): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val pcm = new Array[Byte](frames * fmt.getFrameSize)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("audio metadata decodes real WAV headers (rate, channels, duration)") {
    val media = mediaDs(Seq(
      MediaRow(1L, "audio", wavBytes(8000f, 4000)),
      MediaRow(2L, "audio", wavBytes(44100f, 44100)),
      MediaRow(3L, "audio", "not audio".getBytes("UTF-8"))))
    val metas = Multimodal.audioMeta(media).collect()
      .map(a => a.doc_id -> a).toMap
    val a = metas(1L)
    assert(a.codec == "wav" && a.sample_rate == 8000f && a.channels == 1)
    assert(a.frames == 4000L && math.abs(a.duration_sec - 0.5) < 1e-6)
    val b = metas(2L)
    assert(b.codec == "wav" && b.sample_rate == 44100f)
    assert(math.abs(b.duration_sec - 1.0) < 1e-6)
    val c = metas(3L)
    assert(c.codec == "unknown" && c.sample_rate == null && c.frames == null)
  }

  test("resize rescales real pixel buffers; non-decodable rows pass through") {
    val orig = halfToneBytes(48, 20, "png")
    val textPayload = "not an image".getBytes("UTF-8")
    val media = mediaDs(Seq(
      MediaRow(1L, "image", orig),
      MediaRow(2L, "audio", textPayload)))
    val resized = Multimodal.resize(media, 32, 32)
    val feats = Multimodal.decodeFeatures(resized).collect()
      .map(f => f.doc_id -> f).toMap
    val img = feats(1L)
    assert(img.codec == "png" && img.width == 32 && img.height == 32)
    // pixel content survives the rescale: still dark-left / light-right
    assert(img.features(0) < 0.2f && img.features(3) > 0.8f, img.features.toSeq)
    // pass-through: payload bytes untouched
    val passthrough = resized.filter(col("doc_id") === 2).collect().head
    assert(passthrough.payload.toSeq == textPayload.toSeq)
  }
}
