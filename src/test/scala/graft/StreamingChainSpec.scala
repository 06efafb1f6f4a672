package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingJobs

/** The full 4-job chain as ONE streaming deployment: raw audit JSON →
  * parse/DLQ → per-guid stateful version transitions → columnar diff →
  * change messages → document store via foreachBatch (SURVEY §0 diagram,
  * streaming form). This is the pipeline a user of the reference would run
  * instead of its four Flink processes. */
class StreamingChainSpec extends AnyFunSuite {
  import SparkTestSession._
  import RowSeqOps._

  private def rawEvent(guid: String, op: String, t: Long, typeName: String,
      attrs: Map[String, String]): String = {
    val attrJson = attrs.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    s"""{"kafkaNotification":{"eventTime":$t,"operationType":"$op","guid":"$guid"},
       |"atlasEntity":{"guid":"$guid","typeName":"$typeName",
       |"attributes":{$attrJson},"relationshipAttributes":{},
       |"createTime":1,"updateTime":$t}}""".stripMargin.replaceAll("\n", "")
  }

  test("poisoned rows land in the per-job DLQ while the rest of the batch commits (S10 jobs 2-4)") {
    import spark.implicits._
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
    val raw = Seq(
      rawEvent("gOK", "ENTITY_CREATE", 100L, "m4i_system",
        Map("qualifiedName" -> "sys", "name" -> "Sys")),
      // parses, but violates the version contract: no entity guid
      """{"kafkaNotification":{"eventTime":110,"operationType":"ENTITY_UPDATE","guid":"gX"},
        |"atlasEntity":{"typeName":"m4i_system","attributes":{"name":"NoGuid"},
        |"relationshipAttributes":{},"createTime":1,"updateTime":110}}"""
        .stripMargin.replaceAll("\n", ""),
      // create without qualifiedName → job-4 contract
      """{"kafkaNotification":{"eventTime":120,"operationType":"ENTITY_CREATE","guid":"gQ"},
        |"atlasEntity":{"guid":"gQ","typeName":"m4i_system","attributes":{"name":"NoQN"},
        |"relationshipAttributes":{},"createTime":1,"updateTime":120}}"""
        .stripMargin.replaceAll("\n", ""),
      // unknown operation type → job-3 contract
      """{"kafkaNotification":{"eventTime":130,"operationType":"ENTITY_AUDIT","guid":"gU"},
        |"atlasEntity":{"guid":"gU","typeName":"m4i_system","attributes":{"qualifiedName":"u"},
        |"relationshipAttributes":{},"createTime":1,"updateTime":130}}"""
        .stripMargin.replaceAll("\n", ""),
      // MISSING operation type (three-valued !isin would skip it) → job-3
      """{"kafkaNotification":{"eventTime":140,"guid":"gN"},
        |"atlasEntity":{"guid":"gN","typeName":"m4i_system","attributes":{"qualifiedName":"n"},
        |"relationshipAttributes":{},"createTime":1,"updateTime":140}}"""
        .stripMargin.replaceAll("\n", "")
    ).toDF("value")
    val (docs, dlq, _, _) = graft.jobs.Pipeline.run(spark, raw, emptyDocs)
    // the healthy row committed
    val d = docs.collect()
    assert(d.length == 1 && d.head.getAs[String]("guid") == "gOK")
    // each poisoned row is attributed to the job that would have thrown
    val byJob = dlq.collect()
      .map(r => r.getAs[String]("job") -> r.getAs[String]("description"))
    assert(byJob.length == 4)
    assert(byJob.toSet == Set(
      "publish_state" -> "missing entity guid",
      "determine_change" -> "unknown operationType",
      "synchronize_elastic" -> "create without qualifiedName"))
    assert(byJob.count(_ == ("determine_change", "unknown operationType")) == 2)
  }

  test("full streaming chain: relationships, cross-batch diff, bucket-local commits") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-full").toString
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
    val input = MemoryStream[String]
    val q = StreamingJobs.fullChain(input.toDF(), s"$dir/versions", store,
      emptyDocs, s"$dir/dlq", s"$dir/ckpt").start()
    try {
      input.addData(
        rawEvent("gD", "ENTITY_CREATE", 100L, "m4i_data_domain",
          Map("qualifiedName" -> "dom", "name" -> "Dom")),
        rawEvent("gE", "ENTITY_CREATE", 110L, "m4i_data_entity",
          Map("qualifiedName" -> "ent", "name" -> "Ent")),
        "garbage not json")
      q.processAllAvailable()
      assert(store.read().get.count() == 2)

      // batch 2: a RELATIONSHIP event re-parents gE under gD — the full
      // dispatcher (edge classification + breadcrumbs) must run, and the
      // cross-batch diff must see batch 1's versions as the previous state
      input.addData(
        s"""{"kafkaNotification":{"eventTime":200,"operationType":"ENTITY_UPDATE","guid":"gE"},
           |"atlasEntity":{"guid":"gE","typeName":"m4i_data_entity",
           |"attributes":{"qualifiedName":"ent","name":"Ent"},
           |"relationshipAttributes":{"parent":[{"guid":"gD","typeName":"m4i_data_domain","entityStatus":"ACTIVE"}]},
           |"createTime":1,"updateTime":200}}""".stripMargin
          .replaceAll("\n", ""))
      q.processAllAvailable()
      val ent = store.read().get.filter(col("guid") === "gE").collect().head
      assert(ent.getAs[String]("parentGuid") == "gD")
      assert(ent.seq("breadcrumbGuid") == Seq("gD"))
      assert(ent.seq("breadcrumbName") == Seq("Dom"))
      // the parse failure from batch 1 landed in the DLQ channel
      val dlq = spark.read.parquet(s"$dir/dlq")
      assert(dlq.count() == 1 &&
        dlq.collect().head.getAs[String]("originalNotification")
          .contains("garbage"))
      // versioned store holds the full history
      assert(spark.read.parquet(s"$dir/versions").count() == 3)

      // batch 3: a pure rename of gE (same relationships re-sent, so no
      // edge diff) — the PRUNED microbatch path must commit exactly ONE
      // bucket's data + hash files for this 1-doc change
      input.addData(
        s"""{"kafkaNotification":{"eventTime":300,"operationType":"ENTITY_UPDATE","guid":"gE"},
           |"atlasEntity":{"guid":"gE","typeName":"m4i_data_entity",
           |"attributes":{"qualifiedName":"ent","name":"Ent2"},
           |"relationshipAttributes":{"parent":[{"guid":"gD","typeName":"m4i_data_domain","entityStatus":"ACTIVE"}]},
           |"createTime":1,"updateTime":300}}""".stripMargin
          .replaceAll("\n", ""))
      q.processAllAvailable()
      val v = store.currentVersion.get
      import scala.jdk.CollectionConverters._
      def bucketDirsOf(prefix: String) =
        java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$dir/store", s"$prefix$v"))
          .iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_bucket=")).toSet
      assert(bucketDirsOf("v").size == 1,
        s"1-doc microbatch rewrote ${bucketDirsOf("v")}")
      assert(bucketDirsOf("hashes-").size == 1)
      assert(store.read().get.filter(col("guid") === "gE")
        .collect().head.getAs[String]("name") == "Ent2")
    } finally q.stop()
  }

  test("fullChain restarts from checkpoint and continues cross-batch state") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-restart").toString
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
    val input = MemoryStream[String]
    def startQuery() = StreamingJobs.fullChain(input.toDF(),
      s"$dir/versions", store, emptyDocs, s"$dir/dlq", s"$dir/ckpt").start()
    val create = rawEvent("gD", "ENTITY_CREATE", 100L, "m4i_data_domain",
      Map("qualifiedName" -> "dom", "name" -> "Dom"))

    // a first versions append that crashed before its job commit: the
    // directory holds parts only under _temporary/, which Spark's reader
    // skips — the chain must treat it as no history, not fail every batch
    val task = s"$dir/versions/_temporary/0/task_0"
    graft.store.VersionedStore.append(
      graft.jobs.Pipeline.prepare(Seq(create).toDF("value"))._4, task)
    new java.io.File(task, "_SUCCESS").delete()

    val q1 = startQuery()
    try {
      input.addData(create)
      q1.processAllAvailable()
      assert(store.read().get.count() == 1)
    } finally q1.stop()

    // restart: the update must diff against the PRE-restart version via the
    // versioned store (the old name came from batch 1 of query 1)
    val q2 = startQuery()
    try {
      input.addData(rawEvent("gD", "ENTITY_UPDATE", 200L, "m4i_data_domain",
        Map("qualifiedName" -> "dom", "name" -> "Dom2")))
      q2.processAllAvailable()
      val d = store.read().get.collect()
      assert(d.length == 1 && d.head.getAs[String]("name") == "Dom2")
    } finally q2.stop()
  }

  test("raw JSON stream drives the doc store through stateful diff") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chain").toString
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

    val input = MemoryStream[String]
    // job 1: parse + DLQ split
    val parsed = StreamingJobs.parseWithDlq(input.toDF(), "chain")
    val valid = StreamingJobs.validRows(parsed)
    // jobs 2+3: per-guid stateful transitions → typed change rows (late
    // rows are DLQ data, not transitions — route through the splitter)
    val transitions = StreamingJobs.acceptedTransitions(
      StreamingJobs.versionTransitions(
      valid.select(
        col("atlasEntity.guid"),
        col("atlasEntity.updateTime"),
        col("kafkaNotification.operationType"),
        col("atlasEntity.typeName"),
        col("atlasEntity.attributes"))
        .as[(String, Long, String, String, Map[String, String])]))
    // shape transitions into SynchronizeSearch's message contract
    val messages = transitions.toDF()
      .select(
        col("guid"), col("typeName"),
        col("guid").as("qualifiedName"),
        when(col("operationType") === "ENTITY_CREATE", "EntityCreated")
          .when(col("operationType") === "ENTITY_DELETE", "EntityDeleted")
          .otherwise("EntityAttributeAudit").as("eventType"),
        col("updateTime").as("seq"),
        // changed/new attribute values vs previous state
        map_filter(col("newAttributes"), (k, v) =>
          !(map_contains_key(col("oldAttributes"), k) &&
            element_at(col("oldAttributes"), k) <=> v)).as("attributes"),
        lit(null).cast("string").as("parentGuid"),
        lit(false).as("parentRemoved"),
        lit(true).as("directChange"))
    // job 4: document store sync
    val q = StreamingJobs.syncToDocumentStore(messages, store, emptyDocs,
      s"$dir/ckpt").start()
    try {
      input.addData(
        rawEvent("gD", "ENTITY_CREATE", 100L, "m4i_data_domain",
          Map("qualifiedName" -> "fin", "name" -> "Fin")),
        "garbage not json")
      q.processAllAvailable()
      val docs1 = store.read().get.collect()
      assert(docs1.length == 1 && docs1.head.getAs[String]("name") == "Fin")

      input.addData(rawEvent("gD", "ENTITY_UPDATE", 200L, "m4i_data_domain",
        Map("qualifiedName" -> "fin", "name" -> "Fin2")))
      q.processAllAvailable()
      val docs2 = store.read().get.collect()
      assert(docs2.length == 1 && docs2.head.getAs[String]("name") == "Fin2")

      // late replay of an older version: state drops it, store unchanged
      input.addData(rawEvent("gD", "ENTITY_UPDATE", 150L, "m4i_data_domain",
        Map("qualifiedName" -> "fin", "name" -> "Stale")))
      q.processAllAvailable()
      assert(store.read().get.collect().head
        .getAs[String]("name") == "Fin2")
    } finally q.stop()
  }
}
