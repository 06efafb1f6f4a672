package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.AtlasModel._

/** Structured-Streaming re-expression of the reference's four PyFlink jobs
  * (SURVEY §2.1 S1–S3/S10, §2.7, §3.1).
  *
  * Transforms are factored as Dataset→Dataset so tests drive them through
  * `MemoryStream` and production wires them to Kafka. The reference's
  * global `parallelism=1` ordering is replaced by per-guid ordering inside
  * keyed state (SURVEY §7.5.1) — the design that scales to 1000 executors.
  */
object StreamingJobs {

  // ---- S1/S2: Kafka wiring (topics from the reference's
  //      scripts/config.sample.py:6-9; max.request.size from
  //      get_entity_job.py:122) ----

  case class KafkaConfig(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "latest",
      maxRequestSize: Int = 14999999)

  def kafkaSource(spark: SparkSession, cfg: KafkaConfig): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("subscribe", cfg.topic)
      .option("startingOffsets", cfg.startingOffsets)
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  def kafkaSink(ds: DataFrame, cfg: KafkaConfig, checkpoint: String) =
    ds.selectExpr("CAST(value AS STRING) AS value")
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("topic", cfg.topic)
      .option("kafka.max.request.size", cfg.maxRequestSize.toString)
      .option("checkpointLocation", checkpoint)

  /** S3: debug console sink (the reference's `.print()` on every job). */
  def consoleSink(ds: DataFrame) =
    ds.writeStream.format("console").option("truncate", "false")

  // ---- S10: dead-letter error channel. The reference constructs a Kafka
  //      producer inside each operator's except block
  //      (get_entity_job.py:60-82); here failures are data: an Either-shaped
  //      struct routed to a second sink from the same microbatch. ----

  /** Parse raw JSON into the enriched-event schema, routing malformed rows
    * to a DLQ column instead of throwing (P4/P6 + S10). */
  def parseWithDlq(raw: DataFrame, job: String): DataFrame =
    raw
      .withColumn("parsed", from_json(col("value"), enrichedSchema))
      .withColumn("deadLetter",
        when(col("parsed").isNull ||
            col("parsed.kafkaNotification").isNull ||
            col("parsed.atlasEntity").isNull,
          struct(
            (unix_micros(current_timestamp()).cast("double") / 1e6)
              .as("timestamp"),
            col("value").as("originalNotification"),
            lit(job).as("job"),
            lit("missing kafka_notification or atlas_entity")
              .as("description"))))

  def validRows(parsed: DataFrame): DataFrame =
    parsed.filter(col("deadLetter").isNull)
      .select(col("value") +: parsed.select("parsed.*").columns.toSeq
        .map(c => col(s"parsed.$c")): _*)

  def deadLetters(parsed: DataFrame): DataFrame =
    parsed.filter(col("deadLetter").isNotNull).select("deadLetter.*")

  /** S10 for jobs 2-4: contract validation as a data split. The reference
    * wraps EVERY job's map body in try/except → DLQ
    * (`publish_state_job.py:88-104`, `determine_change_job.py:404-425`,
    * `synchronize_elastic_job.py:123-142`); the columnar analogue is a
    * predicate split — rows violating the version contract route to the
    * dead-letter channel with the failing job's name while the rest of the
    * batch commits. Input: validRows output (value + parsed envelope). */
  def contractDlq(valid: DataFrame): (DataFrame, DataFrame) = {
    def p(job: String, description: String) =
      struct(lit(job).as("job"), lit(description).as("description"))
    // each check is attributed to the reference job whose map body would
    // have thrown on that row
    val problem =
      when(col("atlasEntity.guid").isNull ||
          length(col("atlasEntity.guid")) === 0,
        p("publish_state", "missing entity guid"))
        .when(col("atlasEntity.updateTime").isNull,
          p("publish_state", "missing updateTime"))
        // isNull guard: !isin(...) is NULL (not true) for a missing field
        .when(col("kafkaNotification.operationType").isNull ||
          !col("kafkaNotification.operationType").isin(
            "ENTITY_CREATE", "ENTITY_UPDATE", "ENTITY_DELETE"),
          p("determine_change", "unknown operationType"))
        .when(col("kafkaNotification.operationType") === "ENTITY_CREATE" &&
          element_at(col("atlasEntity.attributes"), "qualifiedName").isNull,
          p("synchronize_elastic", "create without qualifiedName"))
    val flagged = valid.withColumn("_problem", problem)
    (flagged.filter(col("_problem").isNull).drop("_problem"),
      flagged.filter(col("_problem").isNotNull).select(
        (unix_micros(current_timestamp()).cast("double") / 1e6)
          .as("timestamp"),
        col("value").as("originalNotification"),
        col("_problem.job").as("job"),
        col("_problem.description").as("description")))
  }

  // ---- J3 streaming: per-guid latest-version keyed state
  //      (flatMapGroupsWithState replaces the reference's per-record ES
  //      as-of query determine_change_job.py:194-227). ----

  case class VersionTransition(
      guid: String, updateTime: Long, operationType: String,
      typeName: String,
      oldAttributes: Map[String, String],
      newAttributes: Map[String, String],
      late: Boolean = false)

  case class GuidState(updateTime: Long, attributes: Map[String, String],
      typeName: String)

  /** Emit (old, new) attribute-map transitions per guid, keeping only the
    * latest version in state. Late (out-of-order) versions do NOT mutate
    * state; they are emitted as `late = true` rows — failures are data, the
    * same S10 shape as the parse/contract DLQs — so deployments route them
    * to the dead-letter channel ([[lateDrops]]) while consumers of real
    * transitions read [[acceptedTransitions]]. (The reference instead
    * assumed global order via parallelism=1 and routed every anomaly to
    * DEAD_LETTER_BOX, get_entity_job.py:60-82; SURVEY §2.7 ordering note.)
    *
    * State lifecycle (VERDICT r2 #7 / r3 #6): a batch whose LAST applied
    * event is ENTITY_DELETE evicts the guid's state immediately (the doc
    * is gone; keeping its versions forever only grows the store — a
    * subsequent create starts from empty, which is resurrection), and
    * `stateTtl` arms a processing-time timeout that evicts guids idle
    * longer than the TTL, bounding state for entities that stop emitting
    * without a delete. Both matter at 100 TB: unbounded per-guid state is
    * the classic streaming leak. */
  def versionTransitions(
      events: Dataset[(String, Long, String, String, Map[String, String])],
      stateTtl: Option[String] = None)
      : Dataset[VersionTransition] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (guid: String,
         rows: Iterator[(String, Long, String, String, Map[String, String])],
         state: GroupState[GuidState]) => {
          if (state.hasTimedOut) {
            state.remove() // idle past TTL: evict, emit nothing
            Iterator.empty
          } else {
            // per-key ordering: sort the microbatch's rows for this guid
            val sorted = rows.toSeq.sortBy(_._2)
            val out = scala.collection.mutable.ArrayBuffer[VersionTransition]()
            var cur = state.getOption
            var deleted = false
            sorted.foreach { case (g, t, op, tn, attrs) =>
              if (cur.forall(_.updateTime < t)) {
                out += VersionTransition(g, t, op, tn,
                  cur.map(_.attributes).getOrElse(Map.empty), attrs)
                cur = Some(GuidState(t, attrs, tn))
                deleted = op == "ENTITY_DELETE"
              } else {
                // late arrival: state untouched; surface the drop as a
                // late=true row for the DLQ channel (old side = the state
                // that outranked it, so the dead letter is diagnosable)
                out += VersionTransition(g, t, op, tn,
                  cur.map(_.attributes).getOrElse(Map.empty), attrs,
                  late = true)
              }
            }
            if (deleted) state.remove()
            else {
              cur.foreach(state.update)
              stateTtl.foreach(state.setTimeoutDuration)
            }
            out.iterator
          }
        })
  }

  /** The real transitions from [[versionTransitions]] output — what the
    * document-store sync consumes. */
  def acceptedTransitions(ds: Dataset[VersionTransition])
      : Dataset[VersionTransition] = ds.filter(!_.late)

  /** Late-arrival drops in the S10 dead-letter shape (same columns as
    * [[deadLetters]]), attributed to the job whose contract they violate. */
  def lateDrops(ds: Dataset[VersionTransition]): DataFrame =
    ds.filter(_.late).toDF()
      .select(
        (unix_micros(current_timestamp()).cast("double") / 1e6)
          .as("timestamp"),
        to_json(struct(col("guid"), col("updateTime"),
          col("operationType"), col("typeName")))
          .as("originalNotification"),
        lit("determine_change").as("job"),
        lit("late arrival: older than current per-guid state")
          .as("description"))

  // ---- §2.7 windowed streaming aggregation with watermark (the batch
  //      equivalents are oracle-checked in operators.TimeWindows). ----

  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
      window_ : String = "5 minutes"): DataFrame =
    events
      .withWatermark("tts", watermark)
      .groupBy(window(col("tts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"))

  // ---- Job 4 streaming: change messages → document store via
  //      foreachBatch (SURVEY §3.3 Spark equivalent). Each microbatch is one
  //      set-oriented SynchronizeSearch application committed as a new store
  //      version; the checkpoint makes delivery effectively-once (a replayed
  //      batch rewrites the same deterministic result). ----

  /** True when the per-microbatch pruned path may serve this store: a
    * non-empty v2 store has the bucket-partitioned summary + breadcrumb
    * descendant index the pruned reads depend on. Empty stores bootstrap
    * through the full path; pre-v2 stores stay on it until a full write
    * upgrades them (DocumentStore.formatVersion). */
  private def canPrune(store: graft.store.DocumentStore): Boolean =
    store.currentVersion.nonEmpty && store.formatVersion >= 2

  def syncToDocumentStore(messages: DataFrame,
      store: graft.store.DocumentStore, bootstrap: => DataFrame,
      checkpoint: String) =
    messages.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = graft.Materialize.checkpoint(batch)
        if (canPrune(store)) {
          // 100 TB path: load, hash, and rewrite ONLY the buckets this
          // batch can touch — O(batch), not O(store), per microbatch
          val (updated, buckets) = graft.jobs.Pipeline
            .applyPrunedMessages(store, b)
          store.syncBuckets(graft.Materialize.checkpoint(updated), buckets)
        } else {
          val updated = graft.Materialize.checkpoint(
            graft.jobs.SynchronizeSearch.applyChanges(
              store.readOrElse(bootstrap), b))
          // bucket-local commit: only buckets with changed docs rewritten
          store.sync(updated)
        }
        ()
      }

  /** The reference's full 4-job deployment as ONE streaming query: each
    * microbatch runs parse → per-job contract DLQ → cross-batch diff
    * (seeded with the versioned store's latest versions, so an update whose
    * previous version arrived in an earlier batch still diffs correctly) →
    * the full dispatcher (attributes, parent edges, breadcrumb cascades,
    * derived links/roles) → bucket-local document-store commit; dead
    * letters append to a parquet channel (at-least-once on replay — the
    * document/version stores stay effectively-once because a replayed
    * batch rewrites the same deterministic result). */
  def fullChain(raw: DataFrame, versionsPath: String,
      store: graft.store.DocumentStore, bootstrap: => DataFrame,
      dlqPath: String, checkpoint: String) =
    raw.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = graft.Materialize.checkpoint(batch)
        // A crash between directory creation and a completed append can
        // leave versionsPath existing but without readable parquet parts;
        // reading it then fails schema inference PERMANENTLY on restart.
        // Treat a partless directory exactly like an absent one. Parts under
        // a hidden directory (`_temporary/` of an uncommitted write) do not
        // count: Spark's reader skips `_`/`.` names that are not partition
        // directories (`k=v`). Hadoop FS API so remote stores (hdfs://,
        // s3a://) behave like local disk.
        def hasParquetParts(fs: org.apache.hadoop.fs.FileSystem,
            p: org.apache.hadoop.fs.Path): Boolean =
          fs.exists(p) && fs.listStatus(p).exists { s =>
            val name = s.getPath.getName
            (s.isFile && name.startsWith("part-") && !name.endsWith(".crc")) ||
            (s.isDirectory && !name.startsWith(".") &&
              !(name.startsWith("_") && !name.contains("=")) &&
              hasParquetParts(fs, s.getPath))
          }
        val vPath = new org.apache.hadoop.fs.Path(versionsPath)
        val vFs = vPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val base =
          if (hasParquetParts(vFs, vPath))
            Some(graft.store.VersionedStore.latest(
              graft.store.VersionedStore.read(spark, versionsPath)))
          else None
        // prepare() checkpoints the diff eagerly, so `base` is consumed
        // BEFORE this batch's versions are appended below
        val (dlq, messages, direct, versions) =
          graft.jobs.Pipeline.prepare(b, base)
        dlq.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dlqPath)
        // COMMIT ORDER: documents BEFORE versions. If the version append had
        // committed first and the doc sync failed, the replayed batch would
        // diff against its own versions (empty diff) and the doc updates
        // would be lost forever. This way a failure between the two replays
        // the diff against the OLD base: applyChanges is deterministic, the
        // store's hash diff sees no change (no-op version), and the append
        // completes — both stores converge. The version history itself is
        // at-least-once on replay (duplicate identical rows); latest() and
        // docId-keyed reads are unaffected.
        if (canPrune(store)) {
          // 100 TB path (VERDICT r2 #1 / r3 #1): the full dispatcher over
          // ONLY the buckets holding the batch's entities, their new
          // parents, link/role endpoints, and stored descendants — found
          // via the narrow summary index, not a store scan
          val (docs, buckets) = graft.jobs.Pipeline
            .applyPruned(store, messages, direct)
          store.syncBuckets(graft.Materialize.checkpoint(docs), buckets)
        } else {
          val docs = graft.jobs.Pipeline.applyAll(
            store.readOrElse(bootstrap), messages, direct)
          store.sync(graft.Materialize.checkpoint(docs))
        }
        graft.store.VersionedStore.append(versions, versionsPath)
        ()
      }
}
