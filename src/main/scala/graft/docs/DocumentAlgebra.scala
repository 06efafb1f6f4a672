package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.registry.TypeRegistry

/** Job-4 re-expression: the document-graph maintenance algebra
  * (SURVEY §2.5 G8–G22), set-oriented.
  *
  * The reference walks one entity at a time, issuing point reads against App
  * Search for the doc, its parent, and each descendant
  * (`/root/reference/m4i_flink_tasks/synchronize_app_search/synchronize_app_search.py`).
  * Here the document store is a DataFrame keyed by guid and every cascade is
  * ONE join over ALL changed parents at once:
  *   - descendant selection (J4) = `array_contains(breadcrumbGuid, …)` join
  *   - breadcrumbs carry the full ancestor path, so a root rename reaches
  *     grandchildren in a single pass (no per-level iteration; SURVEY §7.5.2)
  *   - last-wins merge (A8) = max_by on a sequence column (the folds in
  *     `SynchronizeSearch.applyChanges`)
  *
  * Docs schema = graft.model.AtlasModel.SearchDocument.
  */
object DocumentAlgebra {

  /** G19: derive a fresh document from a created entity row (columns:
    * guid, typeName, qualifiedName, name, definition, email).
    * Supertypes/sourcetype/m4isourcetype come from the registry (G1–G3);
    * dq scores zeroed (`fill_in_dq_scores` synchronize_app_search.py:67-72). */
  def createDocs(created: DataFrame): DataFrame =
    created.select(
      col("guid").as("id"),
      col("guid"),
      col("qualifiedName"),
      col("typeName"),
      TypeRegistry.sourceTypeCol(col("typeName")).as("sourceType"),
      TypeRegistry.m4iSourceTypesCol(col("typeName")).as("m4iSourceTypes"),
      TypeRegistry.superTypesCol(col("typeName")).as("superTypeNames"),
      col("name"),
      col("definition"),
      col("email"),
      lit(null).cast("string").as("parentGuid"),
      array().cast("array<string>").as("breadcrumbGuid"),
      array().cast("array<string>").as("breadcrumbName"),
      array().cast("array<string>").as("breadcrumbType"),
      map().cast("map<string,string>").as("derivedNames"),
      map().cast("map<string,string>").as("derivedGuids"),
      map(lit("dq_score_completeness"), lit(0.0),
        lit("dq_score_accuracy"), lit(0.0),
        lit("dq_score_timeliness"), lit(0.0),
        lit("dq_score_uniqueness"), lit(0.0)).as("dqScores"))

  /** G8: (re)derive breadcrumbs from a parent edge: child path =
    * parent path ++ [parent] (`define_breadcrumb`
    * synchronize_app_search.py:467-482). Separate child/parent frames let
    * the cascade loop join a small frontier against an equally small
    * finalized-parents set instead of scanning the whole store per level. */
  def deriveBreadcrumbsSplit(children: DataFrame, parents: DataFrame,
      edges: DataFrame): DataFrame = {
    val docs = children
    val replaced: Map[String, Column] = Map(
      "parentGuid" -> col("p.guid"),
      "breadcrumbGuid" -> concat(col("p.breadcrumbGuid"), array(col("p.guid"))),
      "breadcrumbName" -> concat(col("p.breadcrumbName"), array(col("p.name"))),
      "breadcrumbType" -> concat(col("p.breadcrumbType"), array(col("p.typeName"))),
      // G13: the re-parented child inherits the parent's derived fields
      // (parent entries win — `update_derived_entiies` :284-289)
      "derivedNames" -> inheritDerived(col("c.derivedNames"), col("p.derivedNames")),
      "derivedGuids" -> inheritDerived(col("c.derivedGuids"), col("p.derivedGuids")))
    docs.as("c")
      .join(edges.as("e"), col("c.guid") === col("e.childGuid"), "inner")
      .join(parents.as("p"), col("e.parentGuid") === col("p.guid"), "inner")
      .select(docs.columns.toSeq.map(c =>
        replaced.getOrElse(c, col(s"c.$c")).as(c)): _*)
  }

  /** G11: breadcrumb reset + parent clear for children of a removed edge
    * (`delete_breadcrumb` :325-331, `delete_parent_guid` :319-322). */
  def resetBreadcrumb(docs: DataFrame): DataFrame =
    docs
      .withColumn("parentGuid", lit(null).cast("string"))
      .withColumn("breadcrumbGuid", array().cast("array<string>"))
      .withColumn("breadcrumbName", array().cast("array<string>"))
      .withColumn("breadcrumbType", array().cast("array<string>"))

  /** G12/G13: propagate parent's derived fields into child maps
    * (`update_derived_entity_fields_of_child_entities` :263-270,
    * `update_derived_entiies` :284-289): parent's entries win. */
  def inheritDerived(childNames: Column, parentNames: Column): Column =
    map_concat(
      map_filter(childNames, (k, _) => !map_contains_key(parentNames, k)),
      parentNames)

  /** Per-microbatch rename sets are tiny (a handful of UI edits), so the
    * default path collapses them into one broadcast map. A bulk-rename
    * BACKFILL would blow that single row up, so above this many renames
    * the join-based variants take over (shuffle on the affected docs —
    * the 100 TB-safe shape). */
  val broadcastRenameLimit: Int = 10000

  /** Whether a rename set takes the bulk (join-based) path: more than
    * [[broadcastRenameLimit]] renames. `bound` is a known upper bound on
    * that count (the dispatcher passes its batch's rename-message count);
    * the exact count job runs only when the bound exceeds the limit. */
  def bulkRenames(renames: DataFrame, bound: Long): Boolean =
    bound > broadcastRenameLimit &&
      renames.limit(broadcastRenameLimit + 1).count() > broadcastRenameLimit

  /** G17: positional rename inside breadcrumb name arrays — replace the name
    * at every index whose guid matches (`update_name_in_breadcrumbs`
    * :598-636, minus its set-literal crash bug). `renames` must have columns
    * (guid, newName). Applies ALL renames to ALL descendants in one join;
    * `bulk` picks the join-based path (see [[bulkRenames]]). */
  def renameInBreadcrumbs(docs: DataFrame, renames: DataFrame,
      bulk: Boolean): DataFrame = {
    // affected docs via an equi semi-join on the exploded breadcrumb
    // ancestors — an array_contains join condition would plan as a
    // nested-loop (|docs| × |renames| evals: 100M+ when a bulk batch
    // renames every entity)
    val hit = docs.select(col("guid"), explode(col("breadcrumbGuid")).as("bg"))
      .join(renames.select(col("guid").as("bg")), Seq("bg"), "left_semi")
      .select("guid").distinct()
    val joined = docs.join(hit, Seq("guid"), "left_semi")
    if (bulk) {
      // bulk backfill: positional explode + equi-join + reassemble
      val exploded = joined
        .select(col("guid").as("d_guid"),
          posexplode(arrays_zip(col("breadcrumbGuid"), col("breadcrumbName")))
            .as(Seq("pos", "z")))
        .select(col("d_guid"), col("pos"),
          col("z.breadcrumbGuid").as("g"), col("z.breadcrumbName").as("n"))
      val reassembled = exploded
        .join(renames.select(col("guid").as("g"), col("newName")),
          Seq("g"), "left_outer")
        .groupBy(col("d_guid").as("guid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"),
            coalesce(col("newName"), col("n")).as("n")))),
          x => x("n")).as("_bn"))
      joined.join(reassembled, Seq("guid"))
        .withColumn("breadcrumbName", col("_bn")).drop("_bn")
    } else {
      val renameMap = renames.groupBy().agg(
        map_from_entries(collect_list(struct(col("guid"), col("newName"))))
          .as("rm"))
      joined.crossJoin(broadcast(renameMap))
        .withColumn("breadcrumbName",
          zip_with(col("breadcrumbGuid"), col("breadcrumbName"),
            (g, n) => coalesce(element_at(col("rm"), g), n)))
        .drop("rm")
    }
  }

  /** G18: rename inside derived-field maps: for every doc whose derivedGuids
    * references a renamed guid, rewrite the matching derivedNames entry —
    * the reference's 104-line per-type dispatch (:639-742) becomes one
    * transform_values over the (names, guids) maps. `bulk` picks the
    * join-based path (see [[bulkRenames]]). */
  def renameInDerived(docs: DataFrame, renames: DataFrame,
      bulk: Boolean): DataFrame = {
    if (bulk) {
      // bulk backfill: explode derived-guid entries, equi-join the rename
      // set, fold per-doc rename maps back in
      val upd = docs
        .select(col("guid"), explode(col("derivedGuids")).as(Seq("gk", "gv")))
        .join(renames.select(col("guid").as("gv"), col("newName")), Seq("gv"))
        .select(col("guid"),
          regexp_replace(col("gk"), "guid$", "").as("nk"), col("newName"))
        .groupBy("guid")
        .agg(map_from_entries(collect_list(
          struct(col("nk"), col("newName")))).as("nm"))
      docs.join(upd, Seq("guid"), "left_outer")
        .withColumn("derivedNames", when(col("nm").isNull, col("derivedNames"))
          .otherwise(transform_values(col("derivedNames"),
            (k, v) => coalesce(element_at(col("nm"), k), v))))
        .drop("nm")
    } else {
      val renameMap = renames.groupBy().agg(
        map_from_entries(collect_list(struct(col("guid"), col("newName"))))
          .as("rm"))
      docs.crossJoin(broadcast(renameMap))
        // names map key k ↔ guids map key k+"guid": rewrite names whose guid
        // got renamed. transform_values alone preserves the key set exactly —
        // a key-union zip would seed spurious null entries (ADVICE r1).
        .withColumn("derivedNames",
          transform_values(col("derivedNames"), (k, v) =>
            coalesce(element_at(col("rm"),
              element_at(col("derivedGuids"), concat(k, lit("guid")))), v)))
        .drop("rm")
    }
  }

  /** G15/G14: attribute↔field derived cross-links
    * (`define_derived_entity_attribute_field_fields`
    * synchronize_app_search.py:154-174; delete variant :177-197). Sets
    * derivedfield(guid) on the attribute doc and deriveddataattribute(guid)
    * on the field doc — both sides updated in ONE pass via a union of
    * projected updates merged into the store (the reference does two point
    * reads + writes per link). The insert and delete streams are merged:
    * every derived key on every doc resolves to its LAST event in batch
    * order (`seq`), with an insert beating a delete on an exact tie (other
    * guid breaks exact ties deterministically for replay) — the net effect
    * of the reference applying the same events serially. A one-event
    * re-link (delete A→F1 + insert A→F2) therefore ends at F2, and a later
    * unlink beats an earlier link. `inserts`/`deletes` columns: (attrGuid,
    * fieldGuid, seq). */
  def resolveAttributeFieldLinks(docs: DataFrame, inserts: DataFrame,
      deletes: DataFrame): DataFrame = {
    val names = docs.select(col("guid").as("other_guid"),
      col("name").as("other_name"))
    def perDoc(l: DataFrame, del: Boolean): DataFrame =
      l.select(col("attrGuid").as("guid"),
          lit("derivedfield").as("nameKey"),
          lit("derivedfieldguid").as("guidKey"),
          col("fieldGuid").as("other_guid"), col("seq"),
          lit(del).as("_del"))
        .unionByName(l.select(col("fieldGuid").as("guid"),
          lit("deriveddataattribute").as("nameKey"),
          lit("deriveddataattributeguid").as("guidKey"),
          col("attrGuid").as("other_guid"), col("seq"),
          lit(del).as("_del")))
    val winners = perDoc(inserts, del = false)
      .unionByName(perDoc(deletes, del = true))
      .groupBy("guid", "nameKey", "guidKey")
      .agg(max_by(struct(col("other_guid"), col("_del")),
        struct(col("seq"), not(col("_del")), col("other_guid"))).as("w"))
      .select(col("guid"), col("nameKey"), col("guidKey"),
        col("w.other_guid").as("other_guid"), col("w._del").as("_del"))
      .join(names, Seq("other_guid"), "left_outer")
    // one row per doc: set-maps for insert winners, key-lists for delete
    // winners (disjoint key sets, so application order is irrelevant)
    val updates = winners.groupBy("guid").agg(
      map_from_entries(collect_list(when(not(col("_del")),
        struct(col("nameKey"), coalesce(col("other_name"), lit("")))))
      ).as("nameUpd"),
      map_from_entries(collect_list(when(not(col("_del")),
        struct(col("guidKey"), col("other_guid"))))).as("guidUpd"),
      collect_list(when(col("_del"), col("nameKey"))).as("delNameKeys"),
      collect_list(when(col("_del"), col("guidKey"))).as("delGuidKeys"))
    def merged(cur: Column, upd: Column, delKeys: Column): Column =
      when(upd.isNull, cur).otherwise(
        map_filter(
          map_concat(map_filter(cur, (k, _) => !map_contains_key(upd, k)),
            upd),
          (k, _) => !array_contains(delKeys, k)))
    docs.join(updates, Seq("guid"), "left_outer")
      .withColumn("derivedNames",
        merged(col("derivedNames"), col("nameUpd"), col("delNameKeys")))
      .withColumn("derivedGuids",
        merged(col("derivedGuids"), col("guidUpd"), col("delGuidKeys")))
      .drop("nameUpd", "guidUpd", "delNameKeys", "delGuidKeys")
  }

  /** G16/G14: governance-role derived fields
    * (`update_governance_role_derived_entity_fields`
    * synchronize_app_search.py:297-316, its list-indexing bug corrected):
    * sets derived<role>guid on the entity's document, with the same
    * event-order resolution of inserts and deletes as
    * [[resolveAttributeFieldLinks]]. A one-event reassignment (delete zP1
    * + insert aP2) ends at aP2; a later unassignment beats an earlier
    * assignment. Columns: (guid, role ∈ [[governanceRoleKeys]], personGuid,
    * seq); other roles are ignored. */
  def resolveGovernanceRoles(docs: DataFrame, inserts: DataFrame,
      deletes: DataFrame): DataFrame = {
    val keyMap = map(governanceRoleKeys.toSeq
      .flatMap { case (r, k) => Seq(lit(r), lit(k)) }: _*)
    def ev(r: DataFrame, del: Boolean): DataFrame =
      r.select(col("guid"), element_at(keyMap, col("role")).as("guidKey"),
        col("personGuid"), col("seq"), lit(del).as("_del"))
    val winners = ev(inserts, del = false).unionByName(ev(deletes, del = true))
      .filter(col("guidKey").isNotNull)
      .groupBy("guid", "guidKey")
      .agg(max_by(struct(col("personGuid"), col("_del")),
        struct(col("seq"), not(col("_del")), col("personGuid"))).as("w"))
      .select(col("guid"), col("guidKey"),
        col("w.personGuid").as("personGuid"), col("w._del").as("_del"))
    val updates = winners.groupBy("guid").agg(
      map_from_entries(collect_list(when(not(col("_del")),
        struct(col("guidKey"), col("personGuid"))))).as("roleGuids"),
      collect_list(when(col("_del"), col("guidKey"))).as("dropKeys"))
    docs.join(updates, Seq("guid"), "left_outer")
      .withColumn("derivedGuids", when(col("roleGuids").isNull,
        col("derivedGuids")).otherwise(
        map_filter(
          map_concat(
            map_filter(col("derivedGuids"),
              (k, _) => !map_contains_key(col("roleGuids"), k)),
            col("roleGuids")),
          (k, _) => !array_contains(col("dropKeys"), k))))
      .drop("roleGuids", "dropKeys")
  }

  /** G16 role → derived guid key. */
  val governanceRoleKeys: Map[String, String] = Map(
    "domainLead" -> "deriveddomainleadguid",
    "businessOwner" -> "deriveddataownerguid",
    "dataSteward" -> "deriveddatastewardguid")

  /** G12: propagate updated ancestors' derived fields to ALL descendants in
    * one pass (`update_derived_entity_fields_of_child_entities` :263-270).
    * When several updated ancestors sit on one descendant's path, the
    * DEEPEST ancestor wins (nearest dominates, matching the reference's
    * serialized per-entity application order). `parents` needs (guid,
    * derivedNames, derivedGuids). */
  def propagateDerivedToDescendants(docs: DataFrame, parents: DataFrame)
      : DataFrame = {
    val nearest = docs.as("d")
      .join(parents.as("p"),
        array_contains(col("d.breadcrumbGuid"), col("p.guid")))
      .withColumn("_depth", array_position(col("d.breadcrumbGuid"), col("p.guid")))
      .groupBy(col("d.guid").as("guid"))
      .agg(
        max_by(col("p.derivedNames"), col("_depth")).as("pNames"),
        max_by(col("p.derivedGuids"), col("_depth")).as("pGuids"))
    docs.join(nearest, Seq("guid"), "left_outer")
      .withColumn("derivedNames", when(col("pNames").isNotNull,
        inheritDerived(col("derivedNames"), col("pNames")))
        .otherwise(col("derivedNames")))
      .withColumn("derivedGuids", when(col("pGuids").isNotNull,
        inheritDerived(col("derivedGuids"), col("pGuids")))
        .otherwise(col("derivedGuids")))
      .drop("pNames", "pGuids")
  }

  /** G21: whitelisted attribute upsert into documents
    * (`handle_updated_attributes` :491-525; whitelist `update_attributes`
    * :17 = {definition, email}; plus the name attribute driving G17/G18). */
  def applyAttributeUpdates(docs: DataFrame, updates: DataFrame): DataFrame = {
    val u = updates.select(col("guid").as("u_guid"), col("attributes"))
    docs.join(u, col("guid") === col("u_guid"), "left_outer")
      .withColumn("name",
        coalesce(element_at(col("attributes"), "name"), col("name")))
      .withColumn("definition",
        coalesce(element_at(col("attributes"), "definition"), col("definition")))
      .withColumn("email",
        coalesce(element_at(col("attributes"), "email"), col("email")))
      .drop("u_guid", "attributes")
  }

  /** G20: document delete = anti-join (`delete_document` :200-202). */
  def deleteDocs(docs: DataFrame, deletes: DataFrame): DataFrame =
    docs.join(deletes.select(col("guid").as("del_guid")),
      col("guid") === col("del_guid"), "left_anti")
}
