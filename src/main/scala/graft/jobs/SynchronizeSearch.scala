package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.docs.DocumentAlgebra._

/** Job-4 pipeline: apply a batch of change messages to the document store
  * (SURVEY §3.3, G22 dispatcher `synchronize_elastic_job.py:80-113`).
  *
  * Message contract (flattened EntityMessage): guid, typeName, qualifiedName,
  * eventType, seq (intra-batch order, e.g. updateTime), attributes
  * MAP<STRING,STRING> (changed attrs; full attrs on create), parentGuid
  * (nullable — a parent-child relationship was inserted), parentRemoved
  * (boolean), directChange.
  *
  * Phase order inside a batch (SURVEY §7.5.1 — replaces the reference's
  * global parallelism=1 with per-guid seq resolution + set-oriented phases):
  *   1. resolve creates/deletes per guid by seq (a later create resurrects)
  *   2. fold attribute updates per (guid, key) by seq — one shuffle
  *   3. latest parent-edge event per guid → re-derive/reset breadcrumbs
  *      (G8/G11)
  *   4. rename cascade to ALL descendants via one array_contains join
  *      (G17/G18; full ancestor paths ⇒ single pass reaches grandchildren)
  * Every phase handles ALL messages of its kind at once — no per-entity
  * loops, no point reads. */
object SynchronizeSearch {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Re-alias every column (fresh exprIds) so checkpointed frames derived
    * from the same parent can be safely unioned — duplicate attribute ids
    * across union legs trip Catalyst's constraint rewriting. */
  private def realias(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c)).toSeq: _*)

  /** Constraint-free materialization barrier (see [[graft.Materialize]]). */
  private def ck(df: DataFrame): DataFrame = graft.Materialize.checkpoint(df)

  /** P5: direct-change gate (`synchronize_elastic_job.py:74-76`). */
  def directOnly(messages: DataFrame): DataFrame =
    messages.filter(col("directChange"))

  /** Levels the breadcrumb cascade walks per batch; each level costs two
    * counted checkpoints. The walk already ends when a level finds no
    * children (a cyclic parent chain has no anchor, so it never enters the
    * frontier); the cap bounds a batch's jobs on a tree deeper than the m4i
    * hierarchy, whose deeper documents keep stale breadcrumbs (logged). */
  private val maxCascadeDepth = 10

  def applyChanges(docs: DataFrame, messages: DataFrame): DataFrame = {
    val m = messages.withColumn("seq", coalesce(col("seq"), lit(0L)))

    // ONE probe decides which phases run at all: phase 3 (parent edges)
    // and phase 4 (renames) each gate store-sized work, and an
    // attribute-only batch (the common case) must skip both without
    // paying separate isEmpty jobs per phase (VERDICT r3 perf note). The
    // probe is a global aggregate, so under AQE it is two jobs (the
    // shuffle-map stage, then the result stage). Its rename count also
    // bounds the number of distinct renamed guids, which settles phase 4's
    // broadcast-or-bulk choice without a count job in the common case.
    val probe = m.agg(
      count(when(col("parentGuid").isNotNull ||
        col("parentRemoved") === true, 1)).as("edges"),
      count(when(col("eventType") === "EntityAttributeAudit" &&
        map_contains_key(col("attributes"), "name"), 1)).as("renames"))
      .collect().head
    val hasEdges = probe.getLong(0) > 0
    val hasRenames = probe.getLong(1) > 0

    // --- phase 1: creates & deletes, resolved per guid by seq (G19/G20).
    // max_by keys carry a deterministic content tiebreak: equal-seq events
    // must resolve identically on replay (effectively-once).
    val createLatest = m.filter(col("eventType") === "EntityCreated")
      .groupBy("guid")
      .agg(max_by(struct(col("typeName"), col("qualifiedName"),
        col("attributes"), col("seq")),
        struct(col("seq"), md5(to_json(col("attributes"))))).as("c"))
      .select(col("guid"), col("c.typeName").as("typeName"),
        col("c.qualifiedName").as("qualifiedName"),
        col("c.attributes").as("attributes"), col("c.seq").as("cseq"))
    val delLatest = m.filter(col("eventType") === "EntityDeleted")
      .groupBy("guid").agg(max(col("seq")).as("dseq"))
    val deletedGuids = delLatest
      .join(createLatest.select(col("guid"), col("cseq")), Seq("guid"),
        "left_outer")
      .filter(col("cseq").isNull || col("dseq") > col("cseq"))
      .select("guid")
    val keptCreates = createLatest
      .join(deletedGuids, Seq("guid"), "left_anti")
      .withColumn("name", element_at(col("attributes"), "name"))
      .withColumn("definition", element_at(col("attributes"), "definition"))
      .withColumn("email", element_at(col("attributes"), "email"))
    val base = deleteDocs(docs, deletedGuids.unionByName(
        keptCreates.select("guid")))
      .unionByName(createDocs(keptCreates))

    // --- phase 2: attribute upserts folded per (guid, key) by seq (G21/A8).
    // When phase 4 will run it re-reads this frame for the rename feed —
    // checkpoint so the explode+double-groupBy subtree executes once, not
    // twice (lazy plans recompute per consumer).
    val attrMerged0 = m
      .filter(col("eventType") === "EntityAttributeAudit")
      .select(col("guid"), col("seq"),
        explode_outer(col("attributes")).as(Seq("k", "v")))
      .filter(col("k").isNotNull)
      .groupBy("guid", "k")
      .agg(max_by(col("v"), struct(col("seq"), col("v"))).as("v"))
      .groupBy("guid")
      .agg(map_from_entries(collect_list(struct(col("k"), col("v"))))
        .as("attributes"))
    val attrMerged = if (hasRenames) ck(attrMerged0) else attrMerged0
    val afterAttrs = applyAttributeUpdates(base, attrMerged)

    // --- phase 3: latest parent-edge event per guid (G8/G11), gated by
    // the single up-front probe
    val afterEdges = if (!hasEdges) afterAttrs else {
      val edgeLatest = ck(m
        .filter(col("parentGuid").isNotNull || col("parentRemoved") === true)
        .groupBy("guid")
        .agg(max_by(struct(col("parentGuid"), col("parentRemoved")),
          struct(col("seq"), col("parentGuid"))).as("e"))
        .select(col("guid"), col("e.parentGuid").as("parentGuid"),
          col("e.parentRemoved").as("parentRemoved")))
      applyEdges(afterAttrs, edgeLatest)
    }

    // --- phase 4: rename cascades (G17/G18). afterEdges is consumed three
    // times below (cascade source, untouched anti-join, union) — checkpoint
    // so its un-materialized legs (the attribute-upsert joins) run once.
    if (!hasRenames) afterEdges
    else {
      val store = ck(realias(afterEdges))
      val renames = attrMerged
        .filter(map_contains_key(col("attributes"), "name"))
        .select(col("guid"),
          element_at(col("attributes"), "name").as("newName"))
      val bulk = bulkRenames(renames, bound = probe.getLong(1))
      val renamedDescendants = renameInBreadcrumbs(store, renames, bulk)
      val untouchedBc = store.join(renamedDescendants.select("guid"),
        Seq("guid"), "left_anti")
      renameInDerived(untouchedBc.unionByName(renamedDescendants), renames,
        bulk)
    }
  }

  /** Phases 3+3b: apply the latest parent-edge events and cascade
    * breadcrumbs through the affected subtree (G8-G11, SURVEY §7.5.2).
    *
    * Affected set = re-parented/reset nodes (seeds) plus their stored
    * descendants — ONE array_contains semi-join (every true descendant's
    * old breadcrumb contains the seed; only the seed's own upward path
    * changed). Parent pointers are resolved up front, then a BFS finalizes
    * paths level by level FROM anchors whose parents lie outside the
    * affected set — so a chain re-parented within one batch (root→mid and
    * mid→leaf in the same microbatch) converges: leaf derives only after
    * mid's new path is final. The untouched store is merged back exactly
    * once; per-level materializations are O(|affected|), never
    * O(depth × |store|) (VERDICT r1 #3). */
  private def applyEdges(afterAttrs0: DataFrame, edgeLatest: DataFrame)
      : DataFrame = {
    val newEdges = edgeLatest.filter(col("parentGuid").isNotNull)
      .select(col("guid").as("childGuid"), col("parentGuid"))
    val removedChildren = edgeLatest
      .filter(col("parentGuid").isNull && col("parentRemoved") === true)
      .select(col("guid"))
    val (seeds, seedCount) = graft.Materialize.checkpointCounted(
      newEdges.select(col("childGuid").as("guid"))
        .unionByName(removedChildren).distinct())
    if (seedCount == 0) return afterAttrs0
    // the post-attribute store feeds four consumers below (descendant
    // scan, workAll, level-0 parents, final merge) and phase 4 reads the
    // merge again: materialize it once instead of re-running its joins
    // per consumer. Lazy, so it adds no count job (and no O(store) rows to
    // the tally): the descendant scan's job computes and keeps it.
    val afterAttrs = graft.Materialize.checkpointLazy(afterAttrs0)

    // descendants: equi semi-join on the EXPLODED breadcrumb ancestors
    // (every true descendant's old breadcrumb contains a seed) — never a
    // nested-loop array_contains against the store side (ADVICE r3)
    val descendants = afterAttrs
      .select(col("guid"), explode(col("breadcrumbGuid")).as("anc"))
      .join(seeds.select(col("guid").as("anc")), Seq("anc"), "left_semi")
      .select("guid").distinct()
      .join(seeds, Seq("guid"), "left_anti")
    val affected = ck(seeds.unionByName(descendants))

    // affected docs with their POST-batch parent pointers
    val (workAll, workAllCount) = graft.Materialize.checkpointCounted(
      realias(afterAttrs
        .join(affected, Seq("guid"), "left_semi")
        .join(newEdges.select(col("childGuid").as("guid"),
          col("parentGuid").as("_np")), Seq("guid"), "left_outer")
        .join(removedChildren.withColumn("_rm", lit(true)), Seq("guid"),
          "left_outer")
        .withColumn("parentGuid",
          when(col("_rm") === true, lit(null).cast("string"))
            .otherwise(coalesce(col("_np"), col("parentGuid"))))
        .drop("_np", "_rm")))

    // level 0 anchors: no parent (reset), or parent outside the affected
    // set (its stored path is already final) — the ONE store-sized parent
    // join happens here, once
    val reset0 = resetBreadcrumb(workAll.filter(col("parentGuid").isNull))
    val outEdges = workAll.filter(col("parentGuid").isNotNull)
      .join(affected.select(col("guid").as("parentGuid")),
        Seq("parentGuid"), "left_anti")
      .select(col("guid").as("childGuid"), col("parentGuid"))
    val derived0 = deriveBreadcrumbsSplit(workAll, afterAttrs, outEdges)
    val (done0, done0Count) = graft.Materialize.checkpointCounted(
      realias(reset0).unionByName(realias(derived0)))
    var done = done0
    // counter-driven BFS: every level's kid count comes free from its
    // checkpoint, so the loop runs ZERO standalone isEmpty/count jobs.
    // `work` stays lazy over the checkpointed workAll/kids frames — the
    // anti-join chain is depth-bounded and tiny after materialization.
    var work = workAll.join(done.select("guid"), Seq("guid"), "left_anti")
    var remaining = workAllCount - done0Count
    var frontier = done.select("guid")
    var frontierCount = done0Count
    var depth = 0
    while (depth < maxCascadeDepth && frontierCount > 0 && remaining > 0) {
      val (kids, kidCount) = graft.Materialize.checkpointCounted(
        realias(work.as("d")
          .join(frontier.as("f"), col("d.parentGuid") === col("f.guid"),
            "left_semi")))
      if (kidCount == 0) { depth = maxCascadeDepth }
      else {
        val (re, reCount) = graft.Materialize.checkpointCounted(
          realias(deriveBreadcrumbsSplit(kids, done,
            kids.select(col("guid").as("childGuid"), col("parentGuid")))))
        done = done.unionByName(re)
        work = work.join(kids.select("guid"), Seq("guid"), "left_anti")
        remaining -= kidCount
        frontier = re.select("guid")
        frontierCount = reCount
        depth += 1
        if (depth == maxCascadeDepth && remaining > 0)
          log.warn(s"breadcrumb cascade hit the depth cap " +
            s"($maxCascadeDepth) with a non-empty frontier — deeper " +
            "documents keep stale breadcrumbs")
      }
    }
    // single merge: untouched store + finalized + unreachable rest. The
    // rest (a parent chain with a cycle or a new parent missing from the
    // store) keeps its PRE-BATCH row — `work` rows carry the overwritten
    // parent pointer without re-derived breadcrumbs, which would store an
    // internally inconsistent document
    if (remaining > 0)
      log.warn("breadcrumb cascade left unreachable nodes (cyclic or " +
        "missing parent); their documents keep pre-batch state")
    realias(afterAttrs.join(affected, Seq("guid"), "left_anti"))
      .unionByName(done)
      .unionByName(realias(afterAttrs
        .join(work.select("guid"), Seq("guid"), "left_semi")))
  }
}
