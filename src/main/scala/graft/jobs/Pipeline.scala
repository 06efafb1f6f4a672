package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.diff.EntityDiff
import graft.streaming.StreamingJobs

/** The reference's 4-job chain as one composable batch pipeline
  * (SURVEY §0 diagram):
  *
  *   raw audit JSON ─▶ [1 parse+enrich] ─▶ [2 publish_state (versioned store)]
  *                       │                      └─▶ as-of (lag) ──┐
  *                       └────────────▶ [3 determine_change] ◀────┘
  *                                          └─▶ [4 synchronize (doc store)]
  *   malformed rows ─▶ DEAD_LETTER channel
  *
  * In the reference each arrow is a Kafka topic and each job a separate
  * Flink process at parallelism=1 with per-record HTTP to Atlas/ES
  * (the reference's scripts/..._job.py files). Here the chain is a lazy
  * DataFrame graph: one
  * shuffle on guid covers publish_state bucketing AND the as-of lag AND the
  * change diff; document synchronization shuffles once more on guid.
  * Streaming deployment wraps the same transforms in foreachBatch
  * (graft.streaming.StreamingJobs).
  */
object Pipeline {

  /** Job 1: parse raw JSON audit events, split valid/dead-letter. The
    * reference enriches via per-record Atlas REST (J1/S13); our contract
    * takes the entity embedded in the enriched envelope (FIXTURES §3), with
    * live-API enrichment behind the same interface when required. */
  def parse(raw: DataFrame): (DataFrame, DataFrame) = {
    val parsed = StreamingJobs.parseWithDlq(raw, "pipeline")
    (StreamingJobs.validRows(parsed), StreamingJobs.deadLetters(parsed))
  }

  /** Job 2 input shape: flatten the envelope into versioned entity rows.
    * P5: `directChange` mirrors the reference's `is_direct_change`
    * (`determine_change_job.py:85-93`) — the audit details of a DIRECT
    * entity change carry a relationshipAttributes payload, while
    * Atlas-propagated (indirect) audits omit it. */
  def toVersions(valid: DataFrame): DataFrame =
    valid.select(
      col("atlasEntity.guid").as("guid"),
      col("atlasEntity.updateTime").as("updateTime"),
      col("kafkaNotification.operationType").as("operationType"),
      col("atlasEntity.typeName").as("typeName"),
      // canonicalize attribute values at ingest so key-order-insensitive
      // JSON equality holds through the diff (A1-A3 compare strings);
      // a producer emitting {"b":1,"a":2} vs {"a":2,"b":1} diffs empty
      transform_values(col("atlasEntity.attributes"),
        (_, v) => graft.functions.JsonCanonicalize.json_canonicalize(v))
        .as("attributes"),
      coalesce(col("atlasEntity.relationshipAttributes"),
        map().cast("map<string,array<struct<guid:string,typeName:string,entityStatus:string,displayText:string,relationshipType:string,relationshipGuid:string,relationshipStatus:string>>>"))
        .as("relationshipAttributes"),
      col("atlasEntity.relationshipAttributes").isNotNull.as("directChange"))

  /** G5/G6: oriented parent-child edges from inserted (or deleted)
    * relationships. Classification follows the reference's
    * `is_parent_child_relationship` (`synchronize_app_search.py:117-130`):
    * a relationship is a parent-child edge when its key is prefixed
    * "child"/"parent" OR the HierarchyMapping links the m4i source types of
    * the two end entities. Orientation follows
    * `get_parent_child_entity_guid` (`:205-228`): the mapping decides when
    * the types differ; the key prefix decides otherwise. A child-side key
    * re-paths the TARGET doc, not the message entity.
    * Returns (childGuid, parentGuid, seq, directChange). */
  def toParentEdges(changes: DataFrame,
      relCol: String = "insertedRelationships"): DataFrame = {
    import graft.registry.TypeRegistry.{m4iSourceTypesCol, parentTypeCol}
    val exploded = changes
      .select(col("guid"), col("typeName"), col("updateTime").as("seq"),
        col("directChange"),
        explode(col(relCol)).as(Seq("relKey", "refs")))
      .select(col("guid"), col("typeName"), col("seq"), col("directChange"),
        col("relKey"), explode(col("refs")).as("ref"))
    val myTypes = m4iSourceTypesCol(col("typeName"))
    val refTypes = m4iSourceTypesCol(col("ref.typeName"))
    def parentTypesOf(ts: Column): Column =
      filter(transform(ts, t => parentTypeCol(t)), p => p.isNotNull)
    val childGuid =
      when(arrays_overlap(parentTypesOf(myTypes), refTypes), col("guid"))
        .when(arrays_overlap(parentTypesOf(refTypes), myTypes), col("ref.guid"))
        .when(col("relKey").startsWith("parent"), col("guid"))
        .when(col("relKey").startsWith("child"), col("ref.guid"))
    exploded
      .withColumn("childGuid", childGuid)
      .filter(col("childGuid").isNotNull)
      .select(col("childGuid"),
        when(col("childGuid") === col("guid"), col("ref.guid"))
          .otherwise(col("guid")).as("parentGuid"),
        col("seq"), col("directChange"))
  }

  /** Shape diffed changes to the SynchronizeSearch message contract.
    * Parent edges are emitted as dedicated EntityRelationshipAudit rows
    * addressed to the CHILD guid (a child-side relationship re-paths a doc
    * other than the message entity); at the same seq an inserted edge wins
    * over a deleted one (a one-event re-parent). */
  def shapeMessages(changes: DataFrame): DataFrame = {
    val base = changes.select(
      col("guid"), col("typeName"), col("qualifiedName"), col("eventType"),
      col("updateTime").as("seq"),
      map_filter(
        map_from_arrays(
          concat(col("insertedAttributes"), col("changedAttributes")),
          transform(concat(col("insertedAttributes"), col("changedAttributes")),
            k => element_at(col("newAttributes"), k))),
        (_, v) => v.isNotNull).as("attributes"),
      lit(null).cast("string").as("parentGuid"),
      lit(false).as("parentRemoved"),
      col("directChange"))
    val edges = toParentEdges(changes, "insertedRelationships")
      .withColumn("_del", lit(false))
      .unionByName(toParentEdges(changes, "deletedRelationships")
        .withColumn("parentGuid", lit(null).cast("string"))
        .withColumn("_del", lit(true)))
      .groupBy(col("childGuid").as("guid"), col("seq"))
      .agg(max(col("parentGuid")).as("parentGuid"),
        max(col("_del")).as("parentRemoved"),
        max(col("directChange")).as("directChange"))
    val edgeMsgs = edges.select(
      col("guid"),
      lit(null).cast("string").as("typeName"),
      lit(null).cast("string").as("qualifiedName"),
      lit("EntityRelationshipAudit").as("eventType"),
      col("seq"),
      map().cast("map<string,string>").as("attributes"),
      col("parentGuid"), col("parentRemoved"), col("directChange"))
    base.unionByName(edgeMsgs)
  }

  /** Synthesize a raw audit-event stream from the events table (guid =
    * user, version time = per-user event ordinal, attributes from the event
    * fields). Shared by the benchmark query and the stage profiler so both
    * measure the same input shape.
    *
    * The stream deliberately exercises the WHOLE dispatcher so the DuckDB
    * oracle is a real end-to-end check, not a row count:
    *   - a deterministic 3-tier dataset hierarchy (roots 0-2, mid tier
    *     parented by user_id % 3, leaf tier by user_id % 9 + 3) arrives as
    *     `parentDataset` relationships in the create payload → G5/G6 parent
    *     edges → G8 breadcrumb derivation with in-batch chains;
    *   - `name` changes on EVERY event ("User <id> v<ordinal>") → G17
    *     rename cascades through descendant breadcrumbs;
    *   - 'error' events model Atlas-propagated indirect audits (no
    *     relationshipAttributes payload → dropped by the P5 gate), so the
    *     final name is the LAST DIRECT version, not the last version.
    * updateTime is the per-user ordinal (not ts): unique per guid, so the
    * as-of ordering is tie-free and replay-deterministic. */
  def syntheticAuditEvents(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val uid = col("user_id")
    val parentId = when(uid < 3, lit(null).cast("long"))
      .when(uid < 12, uid % 3)
      .otherwise(uid % 9 + 3)
    val relType = "map<string,array<struct<guid:string,typeName:string,entityStatus:string,displayText:string,relationshipType:string,relationshipGuid:string,relationshipStatus:string>>>"
    val parentRel = when(parentId.isNotNull,
        map(lit("parentDataset"), array(struct(
          concat(lit("u"), parentId).as("guid"),
          lit("m4i_dataset").as("typeName"),
          lit("ACTIVE").as("entityStatus"),
          lit(null).cast("string").as("displayText"),
          lit(null).cast("string").as("relationshipType"),
          lit(null).cast("string").as("relationshipGuid"),
          lit(null).cast("string").as("relationshipStatus")))).cast(relType))
      .otherwise(map().cast(relType))
    t(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .select(to_json(struct(
        struct(
          expr("ts DIV 1000000").as("eventTime"),
          when(col("rn") === 1, "ENTITY_CREATE").otherwise("ENTITY_UPDATE")
            .as("operationType"),
          concat(lit("u"), col("user_id")).as("guid")).as("kafkaNotification"),
        struct(
          concat(lit("u"), col("user_id")).as("guid"),
          lit("m4i_dataset").as("typeName"),
          map(lit("qualifiedName"), concat(lit("user/"), col("user_id")),
            lit("name"),
            concat(lit("User "), col("user_id"), lit(" v"), col("rn")),
            lit("etype"), col("event_type"),
            lit("k"), get_json_object(col("props"), "$.k"))
            .as("attributes"),
          // direct_change derives from the presence of relationshipAttributes
          // in the audit payload; 'error' events model Atlas-propagated
          // indirect audits (dropped by the P5 gate) — creates stay direct
          when(col("rn") === 1 || col("event_type") =!= "error", parentRel)
            .as("relationshipAttributes"),
          lit(1L).as("createTime"),
          col("rn").cast("long").as("updateTime")).as("atlasEntity")))
        .as("value"))
  }

  /** Whole-pipeline benchmark query: push the synthetic audit stream
    * through the full 4-job chain and return the final document per entity
    * (rows-only check: the chain is not one SQL statement). */
  def pipelineE2E(spark: SparkSession, dir: String): DataFrame =
    pipelineE2EImpl(spark, dir, None)

  /** Tiny-input run of the IDENTICAL plan shapes, for benchmark warmup:
    * first-touch codegen of the dispatcher's wide union/cascade plans costs
    * multiples of the steady-state work, and a microbatch deployment pays
    * it once per process, not per batch — so the bench JIT-warms it the
    * same way it warms scans (VERDICT r3 perf note). */
  def pipelineE2EWarmup(spark: SparkSession, dir: String): DataFrame =
    pipelineE2EImpl(spark, dir, Some(512))

  /** An EMPTY document store with the SearchDocument schema, derived
    * from the audit stream's own parsed shape (limit(0) folds to an
    * empty relation — zero scan cost). The bootstrap docs0 of the e2e
    * benchmark AND the profiler's stage split, kept as one definition
    * so the two cannot measure different apply paths. */
  def emptyDocsFor(raw: DataFrame): DataFrame =
    graft.docs.DocumentAlgebra.createDocs(
      toVersions(parse(raw)._1).limit(0)
        .select(col("guid"), col("typeName"),
          lit("q").as("qualifiedName"), col("attributes"))
        .withColumn("name", lit(null).cast("string"))
        .withColumn("definition", lit(null).cast("string"))
        .withColumn("email", lit(null).cast("string")))

  private def pipelineE2EImpl(spark: SparkSession, dir: String,
      limitRows: Option[Int]): DataFrame = {
    val raw0 = syntheticAuditEvents(spark, dir)
    // materialize the synthetic stream once: the window+to_json subtree
    // otherwise re-executes under the parse tree's consumers (guide
    // §1.2 — measured both ways: 7.3 s with this checkpoint, 11.8 s
    // without it, same box, same 3-pass solo bench)
    val raw = graft.Materialize.checkpoint(
      limitRows.map(raw0.limit).getOrElse(raw0))
    val docs0 = emptyDocsFor(raw)
    val (docs, _, _, _) = run(spark, raw, docs0)
    // oracle-harness shape: arrays/maps flattened to deterministic scalar
    // strings (sorted k=v entries for maps) so the result is sortable/hashable
    def mapStr(c: Column): Column =
      array_join(array_sort(transform(map_entries(c),
        e => concat(e("key"), lit("="), e("value").cast("string")))), "|")
    docs.select(
      col("id"), col("guid"), col("qualifiedName"), col("typeName"),
      col("sourceType"),
      array_join(col("m4iSourceTypes"), "|").as("m4iSourceTypes"),
      array_join(col("superTypeNames"), "|").as("superTypeNames"),
      col("name"), col("definition"), col("email"), col("parentGuid"),
      array_join(col("breadcrumbGuid"), "|").as("breadcrumbGuid"),
      array_join(col("breadcrumbName"), "|").as("breadcrumbName"),
      array_join(col("breadcrumbType"), "|").as("breadcrumbType"),
      mapStr(col("derivedNames")).as("derivedNames"),
      mapStr(col("derivedGuids")).as("derivedGuids"),
      mapStr(col("dqScores")).as("dqScores"))
      .orderBy("guid")
  }

  /** G7/G15 feed: attribute↔field links from inserted (or deleted)
    * relationships — classified columnar via the registry's supertype
    * closure on BOTH end types, oriented (attrGuid, fieldGuid, seq).
    * `seq` (the event's updateTime) rides along so same-batch conflicts
    * resolve in event order, matching the reference's serialized
    * application (`synchronize_app_search.py:154-174`). */
  def toAttributeFieldLinks(changes: DataFrame,
      relCol: String = "insertedRelationships"): DataFrame = {
    import graft.registry.TypeRegistry.superTypesCol
    val exploded = changes
      .select(col("guid"), col("typeName"), col("updateTime").as("seq"),
        explode(col(relCol)).as(Seq("relKey", "refs")))
      .select(col("guid"), col("typeName"), col("seq"),
        explode(col("refs")).as("ref"))
    val mySups = superTypesCol(col("typeName"))
    val refSups = superTypesCol(col("ref.typeName"))
    exploded
      .filter(
        (array_contains(mySups, "m4i_data_attribute") &&
          array_contains(refSups, "m4i_field")) ||
        (array_contains(mySups, "m4i_field") &&
          array_contains(refSups, "m4i_data_attribute")))
      .select(
        when(array_contains(mySups, "m4i_data_attribute"), col("guid"))
          .otherwise(col("ref.guid")).as("attrGuid"),
        when(array_contains(mySups, "m4i_field"), col("guid"))
          .otherwise(col("ref.guid")).as("fieldGuid"),
        col("seq"))
      .groupBy("attrGuid", "fieldGuid").agg(max(col("seq")).as("seq"))
  }

  /** G16 feed: governance-role assignments from inserted (or deleted)
    * relationships keyed domainLead/businessOwner/dataSteward, with the
    * event seq for in-order same-batch resolution. */
  def toGovernanceRoles(changes: DataFrame,
      relCol: String = "insertedRelationships"): DataFrame =
    changes
      .select(col("guid"), col("updateTime").as("seq"),
        explode(col(relCol)).as(Seq("relKey", "refs")))
      .filter(col("relKey").isin(
        graft.docs.DocumentAlgebra.governanceRoleKeys.keys.toSeq: _*))
      .select(col("guid"), col("relKey").as("role"), col("seq"),
        explode(col("refs")).as("ref"))
      .groupBy(col("guid"), col("role"), col("ref.guid").as("personGuid"))
      .agg(max(col("seq")).as("seq"))

  /** The full dispatcher over a docs frame: core changes (P5-gated), then
    * derived cross-links (G15), governance roles (G16), and descendant
    * propagation (G12) extracted from the same change set. Shared by the
    * full-store path (`run`) and the bucket-pruned path (`applyPruned`):
    * both feed it a docs frame that contains every document the batch can
    * read or write. */
  def applyAll(docs0: DataFrame, messages: DataFrame,
      direct: DataFrame): DataFrame = {
    // P5 gate (synchronize_elastic_job.py:74-76): indirect changes are
    // carried in `messages` (flag false) but never applied to documents
    val docs1 = SynchronizeSearch.applyChanges(docs0,
      SynchronizeSearch.directOnly(messages))
    val links = toAttributeFieldLinks(direct)
    val roles = toGovernanceRoles(direct)
    // delete-side symmetry (G14/G15-delete/G16-delete); insert and delete
    // streams resolve together per doc-key in event order, so a one-event
    // re-link/reassignment nets to the insert and a later unlink beats an
    // earlier link (reference serial order, VERDICT r3 #4)
    val droppedLinks = toAttributeFieldLinks(direct, "deletedRelationships")
    val droppedRoles = toGovernanceRoles(direct, "deletedRelationships")
    // every link/role endpoint of the batch, tagged insert or delete: ONE
    // counted checkpoint (one job for the count, after the feeds' own
    // shuffle jobs) is both the emptiness probe of all four feeds and the
    // G12 propagation seed (its insert rows)
    def endpoints(l: DataFrame, r: DataFrame, insert: Boolean): DataFrame =
      l.select(col("attrGuid").as("guid"))
        .unionByName(l.select(col("fieldGuid").as("guid")))
        .unionByName(r.select(col("guid")))
        .withColumn("insert", lit(insert))
    val (touched, touchedCount) = graft.Materialize.checkpointCounted(
      endpoints(links, roles, insert = true)
        .unionByName(endpoints(droppedLinks, droppedRoles, insert = false))
        .distinct())
    // no link or role event: G15/G16/G12 are identities, so skip their
    // plans — but keep the column order their guid joins produce (guid
    // first): DocumentStore hashes columns in schema order
    if (touchedCount == 0)
      docs1.select(col("guid") +:
        docs1.columns.filterNot(_ == "guid").toSeq.map(col): _*)
    else {
      val docs2 = graft.docs.DocumentAlgebra.resolveGovernanceRoles(
        graft.docs.DocumentAlgebra.resolveAttributeFieldLinks(docs1,
          links, droppedLinks),
        roles, droppedRoles)
      // G12: derived updates cascade to descendants of inserted link/role
      // endpoints (a delete-only batch propagates nothing)
      graft.docs.DocumentAlgebra.propagateDerivedToDescendants(docs2,
        docs2.join(touched.filter(col("insert")), Seq("guid"), "left_semi")
          .select(col("guid"), col("derivedNames"), col("derivedGuids")))
    }
  }

  /** Jobs 1-3 (parse → contract DLQ → versions → diff → messages) without
    * the document apply — the shared front half of the full-store (`run`)
    * and bucket-pruned (`applyPruned`) deployment paths.
    * Returns (deadLetters, changeMessages, directChanges, versions). */
  def prepare(raw: DataFrame, base: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (parsedOk, dlqParse) = parse(raw)
    // S10 for jobs 2-4: contract violations route to the DLQ with the
    // failing job's name instead of failing the batch (VERDICT r1 #6)
    val (valid, dlqContract) = StreamingJobs.contractDlq(parsedOk)
    val dlq = dlqParse.unionByName(dlqContract)
    // materialize the flattened versions once: the diff window's
    // projection references the parsed envelope per output column, so
    // without the barrier CollapseProject re-inlines the from_json +
    // canonicalize subtree into every reference (the Dedup PERF-NOTE
    // failure mode) — each row re-parsed several times per pass
    val versions = graft.Materialize.checkpoint(toVersions(valid))
    val changes = graft.Materialize.checkpoint(
      graft.diff.EntityDiff.determineChange(versions, base))
    // messages feed 6 dispatcher branches — materialize once
    val messages = graft.Materialize.checkpoint(shapeMessages(changes))
    (dlq, messages, changes.filter(col("directChange")), versions)
  }

  /** End-to-end: raw JSON strings → (documents, deadLetters, changeMessages,
    * versions). `docs0` is the current document store (empty on bootstrap). */
  def run(spark: SparkSession, raw: DataFrame, docs0: DataFrame,
      base: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (dlq, messages, direct, versions) = prepare(raw, base)
    (applyAll(docs0, messages, direct), dlq, messages, versions)
  }

  /** Every guid a message batch can read or write DIRECTLY: message
    * entities, new parents (breadcrumb derivation reads the parent doc),
    * and cross-link / governance endpoints (both ends are rewritten).
    * Descendants — the docs a cascade can touch — are NOT here; they come
    * from the store's narrow breadcrumb index (see applyPruned). */
  def touchedGuids(messages: DataFrame, direct: DataFrame): DataFrame = {
    val links = toAttributeFieldLinks(direct)
      .unionByName(toAttributeFieldLinks(direct, "deletedRelationships"))
    val roles = toGovernanceRoles(direct)
      .unionByName(toGovernanceRoles(direct, "deletedRelationships"))
    messageGuids(messages)
      .unionByName(links.select(col("attrGuid").as("guid")))
      .unionByName(links.select(col("fieldGuid").as("guid")))
      .unionByName(roles.select("guid"))
      .distinct()
  }

  /** Message entities and their new parents (breadcrumb derivation reads
    * the parent doc), with repeats. */
  private def messageGuids(messages: DataFrame): DataFrame =
    messages.select("guid")
      .unionByName(messages.filter(col("parentGuid").isNotNull)
        .select(col("parentGuid").as("guid")))

  /** Load the bucket subset a batch can read or write: the touched guids,
    * their stored breadcrumb descendants (a cascade's reach), and their
    * derived-link referrers (the docs a rename's derived-field rewrite
    * touches, G18). Each discovery is ONE equi left-semi join against an
    * exploded (referencedGuid, guid) view of the narrow summary index —
    * never a nested-loop `array_contains` over the store (ADVICE r3).
    * Returns (loadedDocs, bucketIds). */
  def loadTouchedBuckets(store: graft.store.DocumentStore,
      touched: DataFrame): (DataFrame, Set[Int]) = {
    val summary = store.readSummary()
      .getOrElse(sys.error("pruned apply requires a non-empty store"))
    val referrers = summary
      .select(col("guid"),
        explode(concat(coalesce(col("breadcrumbGuid"), array()),
          coalesce(col("linkedGuids"), array()))).as("ref"))
      .join(touched.select(col("guid").as("ref")), Seq("ref"), "left_semi")
      .select("guid")
    val buckets = store.bucketIdsOf(touched.unionByName(referrers))
    val loaded = store.read(Some(buckets))
      .getOrElse(sys.error("pruned apply requires a non-empty store"))
    (loaded, buckets)
  }

  /** Bucket-pruned dispatcher (VERDICT r2 #1 — the 100 TB microbatch path):
    * route the batch to the buckets it can touch, load ONLY those, apply,
    * and return (postBatchDocsOfThoseBuckets, bucketIds) for
    * `store.syncBuckets`. A 1-doc batch loads, hashes, and rewrites exactly
    * one bucket; the store-wide work is one scan of the NARROW
    * (guid, hash, breadcrumbGuid) summary to find descendants — the
    * secondary-index tradeoff, ~2 columns instead of whole documents. */
  def applyPruned(store: graft.store.DocumentStore, messages: DataFrame,
      direct: DataFrame): (DataFrame, Set[Int]) = {
    val touched = graft.Materialize.checkpoint(
      touchedGuids(messages, direct))
    val (loaded, buckets) = loadTouchedBuckets(store, touched)
    (applyAll(loaded, messages, direct), buckets)
  }

  /** Pruned variant of a plain message-batch apply (no relationship-bearing
    * change rows — the `syncToDocumentStore` deployment): touched = message
    * entities + new parents. */
  def applyPrunedMessages(store: graft.store.DocumentStore,
      messages: DataFrame): (DataFrame, Set[Int]) = {
    val touched = graft.Materialize.checkpoint(
      messageGuids(messages).distinct())
    val (loaded, buckets) = loadTouchedBuckets(store, touched)
    (SynchronizeSearch.applyChanges(loaded, messages), buckets)
  }
}
