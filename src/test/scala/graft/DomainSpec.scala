package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.AtlasModel._
import graft.registry.TypeRegistry
import graft.diff.EntityDiff
import graft.docs.DocumentAlgebra
import graft.jobs.SynchronizeSearch

import org.apache.spark.sql.Row

object RowSeqOps {
  implicit class RichRow(val r: Row) extends AnyVal {
    def seq(name: String): Seq[String] =
      r.getSeq[String](r.fieldIndex(name)).toSeq
  }
}

/** Unit tests for the m4i domain algebra, fixtures lifted from the
  * reference's golden test data (FIXTURES.md §2–§5 /
  * test__synchronize_app_search.py:42-224). */
class RegistrySpec extends AnyFunSuite {

  test("supertype closure of m4i_kafka_field has 4 supertypes + self") {
    // the reference's only live assertion: len(super_types) == 4
    // (test__synchronize_app_search.py:22-29) — closure excluding self
    val closure = TypeRegistry.superTypeClosure("m4i_kafka_field")
    assert(closure.last == "m4i_kafka_field")
    assert(closure.dropRight(1).toSet == Set("Referenceable",
      "m4i_referenceable", "m4i_field", "m4i_kafka_referenceable"))
  }

  test("closure is root-first (Referenceable before leaf)") {
    val c = TypeRegistry.superTypeClosure("m4i_data_domain")
    assert(c == Seq("Referenceable", "m4i_referenceable", "m4i_data_domain"))
  }

  // The registry's lookups as the chain applies them: one row per type
  private def typeLookups(types: String*): Map[String, (String, Seq[String])] = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    types.toDF("typeName")
      .select(col("typeName"),
        TypeRegistry.sourceTypeCol(col("typeName")),
        TypeRegistry.m4iSourceTypesCol(col("typeName")))
      .collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getSeq[String](2).toSeq))
      .toMap
  }

  // Diffed change rows, one inserted relationship each:
  // (guid, typeName, relationship key, referenced guid, referenced type)
  private def relChanges(rels: (String, String, String, String, String)*) = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    rels.map { case (g, t, key, refGuid, refType) =>
        (g, t, 1L, true, Map(key -> Seq(RelRef(refGuid, refType)))) }
      .toDF("guid", "typeName", "updateTime", "directChange",
        "insertedRelationships")
  }

  test("source-type classification: Business vs Technical (G2)") {
    val t = typeLookups("m4i_data_domain", "m4i_field", "unknown_type")
    assert(t("m4i_data_domain")._1 == "Business")
    assert(t("m4i_field")._1 == "Technical")
    assert(t("unknown_type")._1 == "Technical")
  }

  test("m4i source types projection (G3)") {
    val t = typeLookups("m4i_data_domain", "m4i_kafka_field", "unknown_type")
    assert(t("m4i_data_domain")._2 == Seq("m4i_data_domain"))
    assert(t("m4i_kafka_field")._2 == Seq("m4i_field"))
    assert(t("unknown_type")._2.isEmpty)
  }

  test("parent-child classification + orientation (G5/G6)") {
    val edges = graft.jobs.Pipeline.toParentEdges(relChanges(
        // the hierarchy links the two types: it orients from either end
        ("gE", "m4i_data_entity", "dataDomain", "gD", "m4i_data_domain"),
        ("gD2", "m4i_data_domain", "x", "gE2", "m4i_data_entity"),
        // a subtype matches through its m4i source types under a neutral
        // key: m4i_kafka_field is an m4i_field, whose parent is a dataset
        ("gK", "m4i_kafka_field", "x", "gS", "m4i_dataset"),
        // types the hierarchy does not link: the key prefix decides
        ("gA", "tA", "parentCollection", "gB", "tB"),
        ("gC", "tC", "childEntities", "gF", "tF"),
        // neither: no edge
        ("gY", "m4i_system", "x", "gZ", "m4i_data_domain")))
      .collect()
      .map(r => r.getAs[String]("childGuid") -> r.getAs[String]("parentGuid"))
    assert(edges.toSet == Set("gE" -> "gD", "gE2" -> "gD2", "gK" -> "gS",
      "gA" -> "gB", "gF" -> "gC"))
    assert(edges.length == 5)
  }

  test("attribute-field classifier (G7)") {
    val links = graft.jobs.Pipeline.toAttributeFieldLinks(relChanges(
        ("gK", "m4i_kafka_field", "x", "gAt", "m4i_data_attribute"),
        ("gAt2", "m4i_data_attribute", "fields", "gF", "m4i_field"),
        ("gY", "m4i_system", "x", "gZ", "m4i_data_domain")))
      .collect()
      .map(r => r.getAs[String]("attrGuid") -> r.getAs[String]("fieldGuid"))
    assert(links.toSet == Set("gAt" -> "gK", "gAt2" -> "gF"))
    assert(links.length == 2)
  }

  test("columnar registry lookups agree with driver-side closure") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val types = TypeRegistry.superTypeClosure.keys.toSeq :+ "weird"
    val sups = types.toDF("typeName")
      .select(col("typeName"),
        TypeRegistry.superTypesCol(col("typeName")).as("sups"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    assert(sups == TypeRegistry.superTypeClosure + ("weird" -> Seq("weird")))
  }
}

class EntityDiffSpec extends AnyFunSuite {
  import RowSeqOps._
  import SparkTestSession._

  private def versionsDf(rows: Seq[(String, Long, String, String,
      Map[String, String], Map[String, Seq[RelRef]])]) = {
    import spark.implicits._
    rows.toDF("guid", "updateTime", "operationType", "typeName",
      "attributes", "relationshipAttributes")
  }

  val relLead = RelRef(guid = "p1", typeName = "m4i_person")

  test("create emits EntityCreated with all attributes inserted (A2)") {
    val out = EntityDiff.determineChange(versionsDf(Seq(
      ("g1", 100L, "ENTITY_CREATE", "m4i_data_domain",
        Map("qualifiedName" -> "finance", "name" -> "Finance"),
        Map("domainLead" -> Seq(relLead)))))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("eventType") == "EntityCreated")
    assert(r.seq("insertedAttributes").sorted ==
      Seq("name", "qualifiedName"))
    assert(r.getAs[Map[String, Any]]("insertedRelationships").keySet ==
      Set("domainLead"))
    assert(r.getAs[String]("qualifiedName") == "finance")
  }

  test("update diffs attribute maps against previous version (A1–A4)") {
    val out = EntityDiff.determineChange(versionsDf(Seq(
      ("g1", 100L, "ENTITY_CREATE", "t",
        Map("a" -> "1", "b" -> "2", "qualifiedName" -> "q"), Map.empty),
      ("g1", 200L, "ENTITY_UPDATE", "t",
        Map("a" -> "1", "b" -> "3", "c" -> "4", "qualifiedName" -> "q"),
        Map.empty))))
      .filter(col("updateTime") === 200L).collect().head
    assert(out.seq("insertedAttributes") == Seq("c"))
    assert(out.seq("changedAttributes") == Seq("b"))
    assert(out.seq("deletedAttributes").isEmpty)
    assert(out.getAs[String]("eventType") == "EntityAttributeAudit")
  }

  test("no-op update is gated out (A7)") {
    val out = EntityDiff.determineChange(versionsDf(Seq(
      ("g1", 100L, "ENTITY_CREATE", "t", Map("a" -> "1"), Map.empty),
      ("g1", 200L, "ENTITY_UPDATE", "t", Map("a" -> "1"), Map.empty))))
    assert(out.filter(col("updateTime") === 200L).isEmpty)
  }

  test("relationship insert/delete per key (A5/A6)") {
    val r1 = RelRef(guid = "x1", typeName = "m4i_person")
    val r2 = RelRef(guid = "x2", typeName = "m4i_person")
    val out = EntityDiff.determineChange(versionsDf(Seq(
      ("g1", 100L, "ENTITY_CREATE", "t", Map("a" -> "1"),
        Map("lead" -> Seq(r1))),
      ("g1", 200L, "ENTITY_UPDATE", "t", Map("a" -> "1"),
        Map("lead" -> Seq(r2))))))
      .filter(col("updateTime") === 200L).collect().head
    assert(out.getAs[String]("eventType") == "EntityRelationshipAudit")
    val ins = out.getAs[Map[String, Any]]("insertedRelationships")
    val del = out.getAs[Map[String, Any]]("deletedRelationships")
    assert(ins("lead").asInstanceOf[scala.collection.Seq[_]].size == 1)
    assert(del("lead").asInstanceOf[scala.collection.Seq[_]].size == 1)
  }

  test("delete emits EntityDeleted with attributes deleted (A4)") {
    val out = EntityDiff.determineChange(versionsDf(Seq(
      ("g1", 100L, "ENTITY_CREATE", "t", Map("a" -> "1"), Map.empty),
      ("g1", 200L, "ENTITY_DELETE", "t", Map("a" -> "1"), Map.empty))))
      .filter(col("updateTime") === 200L).collect().head
    assert(out.getAs[String]("eventType") == "EntityDeleted")
    assert(out.seq("deletedAttributes") == Seq("a"))
  }

  test("equal-updateTime versions differing ONLY in relationships order " +
      "deterministically (ADVICE r2: tie hash covers relationshipAttributes)") {
    val r1 = RelRef(guid = "x1", typeName = "m4i_person")
    val r2 = RelRef(guid = "x2", typeName = "m4i_person")
    val create = ("g1", 100L, "ENTITY_CREATE", "t",
      Map("a" -> "1"), Map("lead" -> Seq(r1)))
    // two updates, SAME updateTime, SAME attributes — only relationships
    // differ; the winner must be input-order independent
    val u1 = ("g1", 200L, "ENTITY_UPDATE", "t", Map("a" -> "1"),
      Map("lead" -> Seq(r2)))
    val u2 = ("g1", 200L, "ENTITY_UPDATE", "t", Map("a" -> "1"),
      Map.empty[String, Seq[RelRef]])
    def run(order: Seq[(String, Long, String, String, Map[String, String],
        Map[String, Seq[RelRef]])]) =
      EntityDiff.determineChange(versionsDf(order).repartition(4))
        .orderBy("updateTime", "eventType")
        .collect().map(_.toString).toSeq
    assert(run(Seq(create, u1, u2)) == run(Seq(create, u2, u1)),
      "relationship-only tie ordered differently across input orders")
  }

  test("scrubbing drops nulls and JSON-array values (P8/P9)") {
    import spark.implicits._
    val df = Seq(Map("x" -> "1", "arr" -> "[1,2]", "n" -> null))
      .toDF("m").select(EntityDiff.scrubbedAttrs(col("m")).as("s"))
    assert(df.collect().head.getAs[Map[String, String]]("s") == Map("x" -> "1"))
  }
}

class DocumentAlgebraSpec extends AnyFunSuite {
  import RowSeqOps._

  // emulate the per-microbatch store write between batches: without it the
  // chained-lineage plan grows multiplicatively across applyChanges calls
  private def apply_(docs: org.apache.spark.sql.DataFrame,
      msgs: org.apache.spark.sql.DataFrame) =
    SynchronizeSearch.applyChanges(docs, msgs).localCheckpoint(true)
  import SparkTestSession._

  // FIXTURES §5 golden: the finance domain doc
  private def msgRow(guid: String, etype: String, attrs: Map[String, String],
      typeName: String = "m4i_data_domain", parentGuid: String = null,
      parentRemoved: Boolean = false, seq: Long = 0L) = {
    import spark.implicits._
    Seq((guid, typeName, attrs.getOrElse("qualifiedName", guid), etype, seq,
      attrs, parentGuid, parentRemoved, true))
      .toDF("guid", "typeName", "qualifiedName", "eventType", "seq",
        "attributes", "parentGuid", "parentRemoved", "directChange")
  }

  private def emptyDocs = {
    val creates = msgRow("none", "EntityCreated", Map.empty).limit(0)
      .withColumn("name", lit(null).cast("string"))
      .withColumn("definition", lit(null).cast("string"))
      .withColumn("email", lit(null).cast("string"))
    DocumentAlgebra.createDocs(creates)
  }

  test("create_doc derives the golden finance document (G19, G1–G3)") {
    val msgs = msgRow("ad49630e", "EntityCreated",
      Map("qualifiedName" -> "finance", "name" -> "Finance",
        "definition" -> "def"))
    val docs = apply_(emptyDocs, msgs).collect()
    assert(docs.length == 1)
    val d = docs.head
    assert(d.getAs[String]("id") == "ad49630e")
    assert(d.getAs[String]("sourceType") == "Business")
    assert(d.seq("m4iSourceTypes") == Seq("m4i_data_domain"))
    assert(d.seq("superTypeNames") ==
      Seq("Referenceable", "m4i_referenceable", "m4i_data_domain"))
    assert(d.getAs[String]("name") == "Finance")
    assert(d.seq("breadcrumbGuid").isEmpty)
    assert(d.getAs[Map[String, Double]]("dqScores")
      .values.forall(_ == 0.0))
  }

  test("re-parenting derives breadcrumbs from parent (G8) and rename cascades (G17)") {
    // build domain -> entity -> attribute chain
    val batch1 = msgRow("gD", "EntityCreated",
        Map("qualifiedName" -> "dom", "name" -> "Dom"))
      .unionByName(msgRow("gE", "EntityCreated",
        Map("qualifiedName" -> "ent", "name" -> "Ent"),
        typeName = "m4i_data_entity"))
      .unionByName(msgRow("gA", "EntityCreated",
        Map("qualifiedName" -> "att", "name" -> "Att"),
        typeName = "m4i_data_attribute"))
    val docs1 = apply_(emptyDocs, batch1)

    // attach gE under gD, then gA under gE (two batches: parent paths first)
    val docs2 = apply_(docs1,
      msgRow("gE", "EntityRelationshipAudit", Map.empty,
        typeName = "m4i_data_entity", parentGuid = "gD"))
    val docs3 = apply_(docs2,
      msgRow("gA", "EntityRelationshipAudit", Map.empty,
        typeName = "m4i_data_attribute", parentGuid = "gE"))
    val att = docs3.filter(col("guid") === "gA").collect().head
    assert(att.seq("breadcrumbGuid") == Seq("gD", "gE"))
    assert(att.seq("breadcrumbName") == Seq("Dom", "Ent"))
    assert(att.seq("breadcrumbType") ==
      Seq("m4i_data_domain", "m4i_data_entity"))

    // rename the ROOT: must reach the grandchild in ONE batch (G17)
    val docs4 = apply_(docs3,
      msgRow("gD", "EntityAttributeAudit", Map("name" -> "Domain2")))
    val att4 = docs4.filter(col("guid") === "gA").collect().head
    assert(att4.seq("breadcrumbName") == Seq("Domain2", "Ent"))
    val root = docs4.filter(col("guid") === "gD").collect().head
    assert(root.getAs[String]("name") == "Domain2")
  }

  test("delete removes the doc (G20); parent removal resets breadcrumbs (G11)") {
    val batch1 = msgRow("gD", "EntityCreated",
        Map("qualifiedName" -> "dom", "name" -> "Dom"))
      .unionByName(msgRow("gE", "EntityCreated",
        Map("qualifiedName" -> "ent", "name" -> "Ent"),
        typeName = "m4i_data_entity"))
    val docs1 = apply_(emptyDocs, batch1)
    val docs2 = apply_(docs1,
      msgRow("gE", "EntityRelationshipAudit", Map.empty,
        typeName = "m4i_data_entity", parentGuid = "gD"))
    assert(docs2.filter(col("guid") === "gE").collect().head
      .seq("breadcrumbGuid") == Seq("gD"))

    val docs3 = apply_(docs2,
      msgRow("gE", "EntityRelationshipAudit", Map.empty,
        typeName = "m4i_data_entity", parentRemoved = true))
    assert(docs3.filter(col("guid") === "gE").collect().head
      .seq("breadcrumbGuid").isEmpty)

    val docs4 = apply_(docs3,
      msgRow("gD", "EntityDeleted", Map.empty))
    assert(docs4.filter(col("guid") === "gD").isEmpty)
    assert(docs4.count() == 1)
  }

  test("derived-field inherit and clear (G12–G14)") {
    import spark.implicits._
    val inh = Seq((Map("x" -> "1", "y" -> "2"), Map("y" -> "9", "z" -> "3")))
      .toDF("child", "parent")
      .select(DocumentAlgebra.inheritDerived(col("child"), col("parent")))
      .collect().head.getMap[String, String](0)
    assert(inh == Map("x" -> "1", "y" -> "9", "z" -> "3"))
    // G14: the clear is the delete side of the resolve functions — an
    // unassigned role drops its key and leaves every other derived key
    val docs = apply_(emptyDocs, msgRow("gD", "EntityCreated",
        Map("qualifiedName" -> "dom", "name" -> "Dom")))
      .withColumn("derivedGuids", map(lit("deriveddomainleadguid"),
        lit("pLead"), lit("derivedfieldguid"), lit("gF")))
    val unassigned = Seq(("gD", "domainLead", "pLead", 0L))
      .toDF("guid", "role", "personGuid", "seq")
    val cleared = DocumentAlgebra.resolveGovernanceRoles(docs,
      unassigned.limit(0), unassigned).collect().head
    assert(cleared.getAs[Map[String, String]]("derivedGuids") ==
      Map("derivedfieldguid" -> "gF"))
  }

  test("attribute-field cross-links set and clear derived fields (G15)") {
    import spark.implicits._
    val batch = msgRow("gAt", "EntityCreated",
        Map("qualifiedName" -> "att", "name" -> "Att"),
        typeName = "m4i_data_attribute")
      .unionByName(msgRow("gF", "EntityCreated",
        Map("qualifiedName" -> "fld", "name" -> "Fld"),
        typeName = "m4i_field"))
    val docs = apply_(emptyDocs, batch)
    val links = Seq(("gAt", "gF", 0L)).toDF("attrGuid", "fieldGuid", "seq")
    val linked = DocumentAlgebra
      .resolveAttributeFieldLinks(docs, links, links.limit(0))
      .localCheckpoint(true)
    val att = linked.filter(col("guid") === "gAt").collect().head
    assert(att.getAs[Map[String, String]]("derivedNames") ==
      Map("derivedfield" -> "Fld"))
    assert(att.getAs[Map[String, String]]("derivedGuids") ==
      Map("derivedfieldguid" -> "gF"))
    val fld = linked.filter(col("guid") === "gF").collect().head
    assert(fld.getAs[Map[String, String]]("derivedGuids") ==
      Map("deriveddataattributeguid" -> "gAt"))
    // inverse delete clears both ends
    val cleared = DocumentAlgebra
      .resolveAttributeFieldLinks(linked, links.limit(0), links)
    assert(cleared.collect().forall(
      _.getAs[Map[String, String]]("derivedGuids").isEmpty))
  }

  test("multi-link and multi-role batches resolve last-wins, not crash (G15/G16)") {
    import spark.implicits._
    val batch = msgRow("gAt", "EntityCreated",
        Map("qualifiedName" -> "att", "name" -> "Att"),
        typeName = "m4i_data_attribute")
      .unionByName(msgRow("gF1", "EntityCreated",
        Map("qualifiedName" -> "f1", "name" -> "F1"), typeName = "m4i_field"))
      .unionByName(msgRow("gF2", "EntityCreated",
        Map("qualifiedName" -> "f2", "name" -> "F2"), typeName = "m4i_field"))
    val docs = apply_(emptyDocs, batch)
    // ONE attribute linked to TWO fields at the same seq: deterministic
    // winner (max other_guid), no duplicate-map-key crash
    val links = Seq(("gAt", "gF1", 0L), ("gAt", "gF2", 0L))
      .toDF("attrGuid", "fieldGuid", "seq")
    val linked = DocumentAlgebra
      .resolveAttributeFieldLinks(docs, links, links.limit(0))
      .filter(col("guid") === "gAt").collect().head
    assert(linked.getAs[Map[String, String]]("derivedGuids") ==
      Map("derivedfieldguid" -> "gF2"))
    assert(linked.getAs[Map[String, String]]("derivedNames") ==
      Map("derivedfield" -> "F2"))
    // TWO persons in the same governance role: same rule
    val roles = Seq(("gAt", "domainLead", "p1", 0L),
        ("gAt", "domainLead", "p2", 0L))
      .toDF("guid", "role", "personGuid", "seq")
    val roled = DocumentAlgebra
      .resolveGovernanceRoles(docs, roles, roles.limit(0))
      .filter(col("guid") === "gAt").collect().head
    assert(roled.getAs[Map[String, String]]("derivedGuids") ==
      Map("deriveddomainleadguid" -> "p2"))
  }

  test("governance-role relationships set derived role guids (G16)") {
    import spark.implicits._
    val docs = apply_(emptyDocs, msgRow("gD", "EntityCreated",
      Map("qualifiedName" -> "dom", "name" -> "Dom")))
    val roles = Seq(("gD", "domainLead", "pLead", 0L),
      ("gD", "dataSteward", "pSteward", 0L),
      ("gD", "unknownRole", "pX", 0L))
      .toDF("guid", "role", "personGuid", "seq")
    val out = DocumentAlgebra
      .resolveGovernanceRoles(docs, roles, roles.limit(0))
      .collect().head
    assert(out.getAs[Map[String, String]]("derivedGuids") ==
      Map("deriveddomainleadguid" -> "pLead",
        "deriveddatastewardguid" -> "pSteward"))
  }

  test("renameInDerived rewrites only matching names, no spurious keys (G18)") {
    import spark.implicits._
    val docs = apply_(emptyDocs, msgRow("gAt", "EntityCreated",
      Map("qualifiedName" -> "att", "name" -> "Att"),
      typeName = "m4i_data_attribute"))
      .withColumn("derivedNames",
        map(lit("derivedfield"), lit("Old")))
      .withColumn("derivedGuids",
        map(lit("derivedfieldguid"), lit("gX"),
          lit("deriveddomainleadguid"), lit("gL")))
    val renames = Seq(("gX", "New")).toDF("guid", "newName")
    val out = DocumentAlgebra.renameInDerived(docs, renames, bulk = false)
      .collect().head
    // exact key set preserved: the renamed name rewritten, role guids (which
    // have no name entry) must NOT seed null-valued derivedNames keys
    assert(out.getAs[Map[String, String]]("derivedNames") ==
      Map("derivedfield" -> "New"))
    assert(out.getAs[Map[String, String]]("derivedGuids") ==
      Map("derivedfieldguid" -> "gX", "deriveddomainleadguid" -> "gL"))
    // a rename of an unreferenced guid leaves the maps untouched
    val out2 = DocumentAlgebra.renameInDerived(docs,
      Seq(("gZ", "Zed")).toDF("guid", "newName"), bulk = false)
      .collect().head
    assert(out2.getAs[Map[String, String]]("derivedNames") ==
      Map("derivedfield" -> "Old"))
  }

  test("chained re-parents in ONE batch converge (leaf derives after mid)") {
    // root→mid and mid→leaf edges arrive in the SAME microbatch: leaf's
    // path must be [root, mid], not mid's pre-batch (empty) path + [mid]
    val batch1 = msgRow("root", "EntityCreated",
        Map("qualifiedName" -> "r", "name" -> "R"))
      .unionByName(msgRow("mid", "EntityCreated",
        Map("qualifiedName" -> "m", "name" -> "M"),
        typeName = "m4i_data_entity"))
      .unionByName(msgRow("leaf", "EntityCreated",
        Map("qualifiedName" -> "l", "name" -> "L"),
        typeName = "m4i_data_attribute"))
    val docs1 = apply_(emptyDocs, batch1)
    val edges = msgRow("mid", "EntityRelationshipAudit", Map.empty,
        typeName = "m4i_data_entity", parentGuid = "root", seq = 1L)
      .unionByName(msgRow("leaf", "EntityRelationshipAudit", Map.empty,
        typeName = "m4i_data_attribute", parentGuid = "mid", seq = 2L))
    val docs2 = apply_(docs1, edges)
    val leaf = docs2.filter(col("guid") === "leaf").collect().head
    assert(leaf.seq("breadcrumbGuid") == Seq("root", "mid"))
    assert(leaf.seq("breadcrumbName") == Seq("R", "M"))
    val mid = docs2.filter(col("guid") === "mid").collect().head
    assert(mid.seq("breadcrumbGuid") == Seq("root"))
  }

  test("bulk-rename join path matches the broadcast path (G17/G18 backfill)") {
    import spark.implicits._
    val batch = msgRow("gD", "EntityCreated",
        Map("qualifiedName" -> "dom", "name" -> "Dom"))
      .unionByName(msgRow("gE", "EntityCreated",
        Map("qualifiedName" -> "ent", "name" -> "Ent"),
        typeName = "m4i_data_entity"))
    val docs0 = apply_(emptyDocs, batch)
    val docs = apply_(docs0,
      msgRow("gE", "EntityRelationshipAudit", Map.empty,
        typeName = "m4i_data_entity", parentGuid = "gD"))
      .withColumn("derivedGuids",
        when(col("guid") === "gE", map(lit("derivedfieldguid"), lit("gD")))
          .otherwise(col("derivedGuids")))
      .withColumn("derivedNames",
        when(col("guid") === "gE", map(lit("derivedfield"), lit("Dom")))
          .otherwise(col("derivedNames")))
      .localCheckpoint(true)
    val renames = Seq(("gD", "Dom2")).toDF("guid", "newName")
    def normBc(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("guid").collect()
        .map(r => r.getAs[String]("guid") -> r.seq("breadcrumbName")).toSeq
    assert(
      normBc(DocumentAlgebra.renameInBreadcrumbs(docs, renames, bulk = true)) ==
      normBc(DocumentAlgebra.renameInBreadcrumbs(docs, renames, bulk = false)))
    def normDn(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("guid").collect()
        .map(r => r.getAs[String]("guid") ->
          r.getAs[Map[String, String]]("derivedNames")).toSeq
    val viaJoin = normDn(DocumentAlgebra.renameInDerived(docs, renames,
      bulk = true))
    assert(viaJoin ==
      normDn(DocumentAlgebra.renameInDerived(docs, renames, bulk = false)))
    assert(viaJoin.toMap.apply("gE") == Map("derivedfield" -> "Dom2"))
  }

  test("breadcrumb cascade materializes O(subtree) rows, not O(store) per level") {
    import spark.implicits._
    // store: a 3-deep chain root->mid->leaf plus 500 unrelated docs
    val chain = msgRow("root", "EntityCreated",
        Map("qualifiedName" -> "r", "name" -> "R"))
      .unionByName(msgRow("mid", "EntityCreated",
        Map("qualifiedName" -> "m", "name" -> "M"),
        typeName = "m4i_data_entity"))
      .unionByName(msgRow("leaf", "EntityCreated",
        Map("qualifiedName" -> "l", "name" -> "L"),
        typeName = "m4i_data_attribute"))
    val bulk = (1 to 500).map(i =>
        (s"x$i", "m4i_system", s"q$i", "EntityCreated", 0L,
          Map("qualifiedName" -> s"q$i"), null: String, false, true))
      .toDF("guid", "typeName", "qualifiedName", "eventType", "seq",
        "attributes", "parentGuid", "parentRemoved", "directChange")
    var docs = apply_(emptyDocs, chain.unionByName(bulk))
    docs = apply_(docs, msgRow("mid", "EntityRelationshipAudit", Map.empty,
      typeName = "m4i_data_entity", parentGuid = "root"))
    docs = apply_(docs, msgRow("leaf", "EntityRelationshipAudit", Map.empty,
      typeName = "m4i_data_attribute", parentGuid = "mid"))
    // re-parent the MIDDLE node: cascade touches mid+leaf only — the 500
    // unrelated docs must never pass through a per-level checkpoint
    val tally = new java.util.concurrent.atomic.AtomicLong(0)
    Materialize.tally = Some(tally)
    try {
      val out = SynchronizeSearch.applyChanges(docs,
        msgRow("mid", "EntityRelationshipAudit", Map.empty,
          typeName = "m4i_data_entity", parentRemoved = true))
        .localCheckpoint(true)
      assert(out.count() == 503)
      assert(out.filter(col("guid") === "leaf").collect().head
        .seq("breadcrumbGuid") == Seq("mid"))
      assert(tally.get() < 100,
        s"cascade checkpointed ${tally.get()} rows for a 2-node subtree " +
          "in a 503-doc store — O(store) materialization regression")
    } finally Materialize.tally = None
  }

  test("cyclic re-parent leaves consistent pre-batch documents, no crash") {
    // store has A -> B (A is B's parent); a batch re-parents A under B,
    // which would create a cycle: the BFS finds no anchor, both docs keep
    // their full pre-batch state (parent pointer AND breadcrumbs agree)
    val batch1 = msgRow("A", "EntityCreated",
        Map("qualifiedName" -> "a", "name" -> "A"))
      .unionByName(msgRow("B", "EntityCreated",
        Map("qualifiedName" -> "b", "name" -> "B"),
        typeName = "m4i_data_entity"))
    val docs1 = apply_(emptyDocs, batch1)
    val docs2 = apply_(docs1, msgRow("B", "EntityRelationshipAudit",
      Map.empty, typeName = "m4i_data_entity", parentGuid = "A"))
    val docs3 = apply_(docs2, msgRow("A", "EntityRelationshipAudit",
      Map.empty, parentGuid = "B", seq = 9L))
    val rows = docs3.orderBy("guid").collect()
    val a = rows(0); val b = rows(1)
    assert(a.getAs[String]("parentGuid") == null) // cycle rejected
    assert(a.seq("breadcrumbGuid").isEmpty)
    assert(b.getAs[String]("parentGuid") == "A") // untouched
    assert(b.seq("breadcrumbGuid") == Seq("A"))
  }

  test("cascade matches an in-memory forest model on random re-parent batches") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 24
      // random forest: parent index < child index keeps it acyclic
      val parent0: Map[Int, Option[Int]] = (0 until n).map { i =>
        i -> (if (i == 0 || rnd.nextInt(3) == 0) None
              else Some(rnd.nextInt(i)))
      }.toMap
      // build store: creates first, then initial edges level by level
      // (apply_ is the per-microbatch store emulation)
      val creates = (0 until n).map(i =>
          (s"n$i", "m4i_system", s"q$i", "EntityCreated", 0L,
            Map("qualifiedName" -> s"q$i", "name" -> s"N$i"),
            null: String, false, true))
        .toDF("guid", "typeName", "qualifiedName", "eventType", "seq",
          "attributes", "parentGuid", "parentRemoved", "directChange")
      var docs = apply_(emptyDocs, creates)
      val edges0 = parent0.toSeq.collect { case (c, Some(p)) =>
        (s"n$c", "m4i_system", s"q$c", "EntityRelationshipAudit", 1L,
          Map.empty[String, String], s"n$p", false, true) }
      if (edges0.nonEmpty)
        docs = apply_(docs, edges0
          .toDF("guid", "typeName", "qualifiedName", "eventType", "seq",
            "attributes", "parentGuid", "parentRemoved", "directChange"))
      // ONE batch of random re-parents/resets (keep acyclicity: new parent
      // index < child index, so chains re-parented together must converge)
      val moves: Map[Int, Option[Int]] = (1 until n)
        .filter(_ => rnd.nextInt(3) == 0)
        .map(i => i -> (if (rnd.nextInt(4) == 0 || i == 0) None
                        else Some(rnd.nextInt(i)))).toMap
      if (moves.nonEmpty) {
        val batch = moves.toSeq.map { case (c, p) =>
          (s"n$c", "m4i_system", s"q$c", "EntityRelationshipAudit", 2L,
            Map.empty[String, String], p.map(i => s"n$i").orNull,
            p.isEmpty, true) }
          .toDF("guid", "typeName", "qualifiedName", "eventType", "seq",
            "attributes", "parentGuid", "parentRemoved", "directChange")
        docs = apply_(docs, batch)
      }
      // in-memory model: final parent map → root-first ancestor paths
      val parentF: Map[Int, Option[Int]] =
        parent0 ++ moves
      def path(i: Int): List[Int] = parentF(i) match {
        case None => Nil
        case Some(p) => path(p) :+ p
      }
      val expected = (0 until n)
        .map(i => s"n$i" -> path(i).map(j => s"n$j")).toMap
      val got = docs.collect()
        .map(r => r.getAs[String]("guid") -> r.seq("breadcrumbGuid")).toMap
      assert(got == expected, s"trial $trial: forest mismatch\n" +
        s"parent0=$parent0\nmoves=$moves")
    }
  }

  test("last-wins merge keeps highest seq per guid (A8)") {
    // the dispatcher's attribute fold: per (guid, key), the highest seq
    // wins regardless of arrival order; keys a later event leaves alone
    // keep their earlier value
    val docs = apply_(emptyDocs, msgRow("g1", "EntityCreated",
        Map("qualifiedName" -> "q1", "name" -> "N0"))
      .unionByName(msgRow("g2", "EntityCreated",
        Map("qualifiedName" -> "q2", "name" -> "M0"))))
    val out = apply_(docs,
      msgRow("g1", "EntityAttributeAudit",
          Map("name" -> "N3"), seq = 3L)
        .unionByName(msgRow("g1", "EntityAttributeAudit",
          Map("name" -> "N1", "definition" -> "d1"), seq = 1L))
        .unionByName(msgRow("g1", "EntityAttributeAudit",
          Map("name" -> "N2"), seq = 2L))
        .unionByName(msgRow("g2", "EntityAttributeAudit",
          Map("name" -> "M2"), seq = 2L)))
      .collect()
      .map(r => r.getAs[String]("guid") ->
        (r.getAs[String]("name"), r.getAs[String]("definition"))).toMap
    assert(out == Map("g1" -> ("N3", "d1"), "g2" -> ("M2", null)))
  }
}
