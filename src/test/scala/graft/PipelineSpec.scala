package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.jobs.{Pipeline, SynchronizeSearch}

/** End-to-end 4-job pipeline test: raw audit JSON → parse/DLQ → versions →
  * change messages → document store (SURVEY §5.2.3; fixture shapes from
  * FIXTURES §1–§5). */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._
  import RowSeqOps._

  private def rawEvent(guid: String, op: String, updateTime: Long,
      typeName: String, attrs: Map[String, String],
      parentRel: Option[(String, String)] = None): String = {
    val attrJson = attrs.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    val relJson = parentRel.map { case (key, pguid) =>
      s""""$key":[{"guid":"$pguid","typeName":"x","entityStatus":"ACTIVE"}]"""
    }.getOrElse("")
    s"""{"kafkaNotification":{"eventTime":$updateTime,"operationType":"$op","guid":"$guid"},
       |"atlasEntity":{"guid":"$guid","typeName":"$typeName",
       |"attributes":{$attrJson},
       |"relationshipAttributes":{$relJson},
       |"createTime":1,"updateTime":$updateTime}}""".stripMargin
      .replaceAll("\n", "")
  }

  private def emptyDocs = {
    import spark.implicits._
    val creates = Seq.empty[(String, String, String, String, Long,
        Map[String, String], String, Boolean, Boolean)]
      .toDF("guid", "typeName", "qualifiedName", "eventType", "seq",
        "attributes", "parentGuid", "parentRemoved", "directChange")
      .withColumn("name", lit(null).cast("string"))
      .withColumn("definition", lit(null).cast("string"))
      .withColumn("email", lit(null).cast("string"))
    graft.docs.DocumentAlgebra.createDocs(creates)
  }

  test("raw JSON batch flows to documents; malformed rows land in DLQ") {
    import spark.implicits._
    val raw = Seq(
      rawEvent("gD", "ENTITY_CREATE", 100L, "m4i_data_domain",
        Map("qualifiedName" -> "finance", "name" -> "Finance",
          "definition" -> "the money domain")),
      rawEvent("gE", "ENTITY_CREATE", 110L, "m4i_data_entity",
        Map("qualifiedName" -> "cost", "name" -> "Cost")),
      rawEvent("gE", "ENTITY_UPDATE", 120L, "m4i_data_entity",
        Map("qualifiedName" -> "cost", "name" -> "Cost"),
        parentRel = Some(("parent", "gD"))),
      """{"garbage": 1}""",
      rawEvent("gD", "ENTITY_UPDATE", 130L, "m4i_data_domain",
        Map("qualifiedName" -> "finance", "name" -> "Finance2",
          "definition" -> "the money domain"))
    ).toDF("value")

    val (docs, dlq, messages, versions) =
      Pipeline.run(spark, raw, emptyDocs)

    assert(dlq.count() == 1)
    assert(versions.count() == 4)

    val msgs = messages.collect()
    assert(msgs.count(_.getAs[String]("eventType") == "EntityCreated") == 2)
    assert(msgs.count(_.getAs[String]("eventType") == "EntityAttributeAudit") == 1)
    // the re-parent edge was oriented from the inserted "parent" key and
    // emitted as a dedicated edge row addressed to the child guid
    val edge = msgs.filter(_.getAs[String]("parentGuid") != null)
    assert(edge.length == 1 && edge.head.getAs[String]("guid") == "gE" &&
      edge.head.getAs[String]("parentGuid") == "gD")

    val d = docs.orderBy("guid").collect()
    assert(d.length == 2)
    val domain = d.head
    assert(domain.getAs[String]("guid") == "gD")
    assert(domain.getAs[String]("name") == "Finance2") // rename applied
    assert(domain.getAs[String]("sourceType") == "Business")
    val entity = d(1)
    assert(entity.getAs[String]("parentGuid") == "gD")
    assert(entity.seq("breadcrumbGuid") == Seq("gD"))
    // rename of gD propagated into gE's breadcrumb names within the batch
    assert(entity.seq("breadcrumbName") == Seq("Finance2"))
  }

  test("mixed update (attrs + relationships) splits into both audit rows and applies both") {
    import spark.implicits._
    val raw = Seq(
      rawEvent("gD", "ENTITY_CREATE", 100L, "m4i_data_domain",
        Map("qualifiedName" -> "dom", "name" -> "Dom")),
      rawEvent("gE", "ENTITY_CREATE", 110L, "m4i_data_entity",
        Map("qualifiedName" -> "ent", "name" -> "Ent")),
      // ONE update that renames gE AND re-parents it under gD — the
      // reference emits one message per audit category, so both the
      // rename and the breadcrumb must land (ADVICE r1 high)
      rawEvent("gE", "ENTITY_UPDATE", 120L, "m4i_data_entity",
        Map("qualifiedName" -> "ent", "name" -> "Ent2"),
        parentRel = Some(("parent", "gD")))).toDF("value")
    val (docs, _, messages, _) = Pipeline.run(spark, raw, emptyDocs)
    val split = messages.filter(col("guid") === "gE" && col("seq") === 120L)
      .collect()
    // attr audit + rel audit (reference's per-category split) + the
    // oriented parent-edge row addressed to the child
    assert(split.map(_.getAs[String]("eventType")).sorted.toSeq ==
      Seq("EntityAttributeAudit", "EntityRelationshipAudit",
        "EntityRelationshipAudit"))
    assert(split.count(_.getAs[String]("parentGuid") == "gD") == 1)
    val ent = docs.filter(col("guid") === "gE").collect().head
    assert(ent.getAs[String]("name") == "Ent2")
    assert(ent.seq("breadcrumbGuid") == Seq("gD"))
  }

  test("key-order-shuffled JSON attribute values diff empty (JsonCanonicalize at ingest)") {
    import spark.implicits._
    def ev(t: Long, op: String, spec: String) =
      s"""{"kafkaNotification":{"eventTime":$t,"operationType":"$op","guid":"g1"},
         |"atlasEntity":{"guid":"g1","typeName":"m4i_system",
         |"attributes":{"qualifiedName":"sys","name":"Sys","spec":$spec},
         |"relationshipAttributes":{},
         |"createTime":1,"updateTime":$t}}""".stripMargin.replaceAll("\n", "")
    val raw = Seq(
      ev(100L, "ENTITY_CREATE", """"{\"b\":1,\"a\":2}""""),
      // same object, keys re-ordered: must register NO change at all
      ev(110L, "ENTITY_UPDATE", """"{\"a\":2,\"b\":1}"""")).toDF("value")
    val (_, _, messages, _) = Pipeline.run(spark, raw, emptyDocs)
    val m = messages.collect()
    assert(m.length == 1 && m.head.getAs[String]("eventType") == "EntityCreated")
  }

  test("indirect changes are flagged and dropped by the P5 gate") {
    import spark.implicits._
    val raw = Seq(
      rawEvent("gD", "ENTITY_CREATE", 100L, "m4i_data_domain",
        Map("qualifiedName" -> "dom", "name" -> "Dom")),
      // Atlas-propagated audit: NO relationshipAttributes in the payload →
      // indirect (is_direct_change analogue) → carried but never applied
      s"""{"kafkaNotification":{"eventTime":120,"operationType":"ENTITY_UPDATE","guid":"gD"},
         |"atlasEntity":{"guid":"gD","typeName":"m4i_data_domain",
         |"attributes":{"qualifiedName":"dom","name":"Renamed"},
         |"createTime":1,"updateTime":120}}""".stripMargin.replaceAll("\n", "")
    ).toDF("value")
    val (docs, _, messages, _) = Pipeline.run(spark, raw, emptyDocs)
    val byDc = messages.collect()
      .groupBy(_.getAs[Boolean]("directChange")).view.mapValues(_.length).toMap
    assert(byDc == Map(true -> 1, false -> 1)) // flag varies in the output
    assert(SynchronizeSearch.directOnly(messages).count() == 1)
    // the indirect rename was NOT applied to the document store
    assert(docs.collect().head.getAs[String]("name") == "Dom")
  }

  test("hierarchy-mapped relationship keys build breadcrumbs without parent/child prefix (G5/G6)") {
    import spark.implicits._
    // key "dataDomain" links m4i_data_entity -> m4i_data_domain: classified
    // via HierarchyMapping over end types, not the key name (ADVICE r1)
    val raw = Seq(
      rawEvent("gD", "ENTITY_CREATE", 100L, "m4i_data_domain",
        Map("qualifiedName" -> "dom", "name" -> "Dom")),
      rawEvent("gE", "ENTITY_CREATE", 110L, "m4i_data_entity",
        Map("qualifiedName" -> "ent", "name" -> "Ent")),
      s"""{"kafkaNotification":{"eventTime":120,"operationType":"ENTITY_UPDATE","guid":"gE"},
         |"atlasEntity":{"guid":"gE","typeName":"m4i_data_entity",
         |"attributes":{"qualifiedName":"ent","name":"Ent"},
         |"relationshipAttributes":{"dataDomain":[{"guid":"gD","typeName":"m4i_data_domain","entityStatus":"ACTIVE"}]},
         |"createTime":1,"updateTime":120}}""".stripMargin.replaceAll("\n", "")
    ).toDF("value")
    val (docs, _, _, _) = Pipeline.run(spark, raw, emptyDocs)
    val ent = docs.filter(col("guid") === "gE").collect().head
    assert(ent.getAs[String]("parentGuid") == "gD")
    assert(ent.seq("breadcrumbGuid") == Seq("gD"))
  }

  test("child-side relationship key re-paths the TARGET doc (G5/G6)") {
    import spark.implicits._
    // the DOMAIN message carries childEntities -> gE: the edge must be
    // oriented (parent=gD, child=gE) and applied to gE's document
    val raw = Seq(
      rawEvent("gD", "ENTITY_CREATE", 100L, "m4i_data_domain",
        Map("qualifiedName" -> "dom", "name" -> "Dom")),
      rawEvent("gE", "ENTITY_CREATE", 110L, "m4i_data_entity",
        Map("qualifiedName" -> "ent", "name" -> "Ent")),
      s"""{"kafkaNotification":{"eventTime":120,"operationType":"ENTITY_UPDATE","guid":"gD"},
         |"atlasEntity":{"guid":"gD","typeName":"m4i_data_domain",
         |"attributes":{"qualifiedName":"dom","name":"Dom"},
         |"relationshipAttributes":{"childEntities":[{"guid":"gE","typeName":"x","entityStatus":"ACTIVE"}]},
         |"createTime":1,"updateTime":120}}""".stripMargin.replaceAll("\n", "")
    ).toDF("value")
    val (docs, _, _, _) = Pipeline.run(spark, raw, emptyDocs)
    val ent = docs.filter(col("guid") === "gE").collect().head
    assert(ent.getAs[String]("parentGuid") == "gD")
    assert(ent.seq("breadcrumbGuid") == Seq("gD"))
    assert(ent.seq("breadcrumbName") == Seq("Dom"))
  }

  test("relationship inserts drive attribute-field links and governance roles (G15/G16)") {
    import spark.implicits._
    val raw = Seq(
      rawEvent("gAt", "ENTITY_CREATE", 100L, "m4i_data_attribute",
        Map("qualifiedName" -> "att", "name" -> "Att")),
      rawEvent("gF", "ENTITY_CREATE", 110L, "m4i_field",
        Map("qualifiedName" -> "fld", "name" -> "Fld")),
      // attribute gains a relationship to the field (any key) + a domainLead
      s"""{"kafkaNotification":{"eventTime":120,"operationType":"ENTITY_UPDATE","guid":"gAt"},
         |"atlasEntity":{"guid":"gAt","typeName":"m4i_data_attribute",
         |"attributes":{"qualifiedName":"att","name":"Att"},
         |"relationshipAttributes":{
         |  "fields":[{"guid":"gF","typeName":"m4i_field","entityStatus":"ACTIVE"}],
         |  "domainLead":[{"guid":"gP","typeName":"m4i_person","entityStatus":"ACTIVE"}]},
         |"createTime":1,"updateTime":120}}""".stripMargin.replaceAll("\n", "")
    ).toDF("value")
    val (docs, _, _, _) = Pipeline.run(spark, raw, emptyDocs)
    val at = docs.filter(col("guid") === "gAt").collect().head
    assert(at.getAs[Map[String, String]]("derivedGuids") ==
      Map("derivedfieldguid" -> "gF", "deriveddomainleadguid" -> "gP"))
    assert(at.getAs[Map[String, String]]("derivedNames") ==
      Map("derivedfield" -> "Fld"))
    val fl = docs.filter(col("guid") === "gF").collect().head
    assert(fl.getAs[Map[String, String]]("derivedGuids") ==
      Map("deriveddataattributeguid" -> "gAt"))
    assert(fl.getAs[Map[String, String]]("derivedNames") ==
      Map("deriveddataattribute" -> "Att"))
  }

  test("same-batch link/role conflicts resolve in event order, not by guid (G15/G16 seq-aware)") {
    import spark.implicits._
    // field/person guids chosen so the LATER event carries the SMALLER
    // guid: a max-by-guid resolution would pick the wrong winner
    val raw = Seq(
      rawEvent("gAt", "ENTITY_CREATE", 100L, "m4i_data_attribute",
        Map("qualifiedName" -> "att", "name" -> "Att")),
      rawEvent("zF1", "ENTITY_CREATE", 101L, "m4i_field",
        Map("qualifiedName" -> "f1", "name" -> "F1")),
      rawEvent("aF2", "ENTITY_CREATE", 102L, "m4i_field",
        Map("qualifiedName" -> "f2", "name" -> "F2")),
      // t=120: attribute links to zF1, domainLead zP1
      s"""{"kafkaNotification":{"eventTime":120,"operationType":"ENTITY_UPDATE","guid":"gAt"},
         |"atlasEntity":{"guid":"gAt","typeName":"m4i_data_attribute",
         |"attributes":{"qualifiedName":"att","name":"Att"},
         |"relationshipAttributes":{
         |  "fields":[{"guid":"zF1","typeName":"m4i_field","entityStatus":"ACTIVE"}],
         |  "domainLead":[{"guid":"zP1","typeName":"m4i_person","entityStatus":"ACTIVE"}]},
         |"createTime":1,"updateTime":120}}""".stripMargin.replaceAll("\n", ""),
      // t=130: re-linked to aF2, domainLead reassigned to aP2 — the final
      // state must reflect THIS event (the reference applies serially)
      s"""{"kafkaNotification":{"eventTime":130,"operationType":"ENTITY_UPDATE","guid":"gAt"},
         |"atlasEntity":{"guid":"gAt","typeName":"m4i_data_attribute",
         |"attributes":{"qualifiedName":"att","name":"Att"},
         |"relationshipAttributes":{
         |  "fields":[{"guid":"aF2","typeName":"m4i_field","entityStatus":"ACTIVE"}],
         |  "domainLead":[{"guid":"aP2","typeName":"m4i_person","entityStatus":"ACTIVE"}]},
         |"createTime":1,"updateTime":130}}""".stripMargin.replaceAll("\n", "")
    ).toDF("value")
    val (docs, _, _, _) = Pipeline.run(spark, raw, emptyDocs)
    val at = docs.filter(col("guid") === "gAt").collect().head
    assert(at.getAs[Map[String, String]]("derivedGuids")
      .get("derivedfieldguid").contains("aF2"))
    assert(at.getAs[Map[String, String]]("derivedNames")
      .get("derivedfield").contains("F2"))
    assert(at.getAs[Map[String, String]]("derivedGuids")
      .get("deriveddomainleadguid").contains("aP2"))
  }

  test("same-batch unlink AFTER link clears the derived keys (G15/G16 seq-aware delete)") {
    import spark.implicits._
    val raw = Seq(
      rawEvent("gAt", "ENTITY_CREATE", 100L, "m4i_data_attribute",
        Map("qualifiedName" -> "att", "name" -> "Att")),
      rawEvent("gF", "ENTITY_CREATE", 101L, "m4i_field",
        Map("qualifiedName" -> "f", "name" -> "F")),
      // t=120: link + role assignment
      s"""{"kafkaNotification":{"eventTime":120,"operationType":"ENTITY_UPDATE","guid":"gAt"},
         |"atlasEntity":{"guid":"gAt","typeName":"m4i_data_attribute",
         |"attributes":{"qualifiedName":"att","name":"Att"},
         |"relationshipAttributes":{
         |  "fields":[{"guid":"gF","typeName":"m4i_field","entityStatus":"ACTIVE"}],
         |  "domainLead":[{"guid":"gP","typeName":"m4i_person","entityStatus":"ACTIVE"}]},
         |"createTime":1,"updateTime":120}}""".stripMargin.replaceAll("\n", ""),
      // t=130: both relationships removed — the LATER delete must win over
      // the earlier insert within the same batch
      s"""{"kafkaNotification":{"eventTime":130,"operationType":"ENTITY_UPDATE","guid":"gAt"},
         |"atlasEntity":{"guid":"gAt","typeName":"m4i_data_attribute",
         |"attributes":{"qualifiedName":"att","name":"Att"},
         |"relationshipAttributes":{},
         |"createTime":1,"updateTime":130}}""".stripMargin.replaceAll("\n", "")
    ).toDF("value")
    val (docs, _, _, _) = Pipeline.run(spark, raw, emptyDocs)
    val at = docs.filter(col("guid") === "gAt").collect().head
    assert(!at.getAs[Map[String, String]]("derivedGuids")
      .contains("derivedfieldguid"))
    assert(!at.getAs[Map[String, String]]("derivedGuids")
      .contains("deriveddomainleadguid"))
    assert(!at.getAs[Map[String, String]]("derivedNames")
      .contains("derivedfield"))
    val fl = docs.filter(col("guid") === "gF").collect().head
    assert(!fl.getAs[Map[String, String]]("derivedGuids")
      .contains("deriveddataattributeguid"))
  }

  test("re-parented child inherits parent's derived fields (G13)") {
    import spark.implicits._
    val batch1 = Seq(
      rawEvent("gD", "ENTITY_CREATE", 100L, "m4i_data_domain",
        Map("qualifiedName" -> "dom", "name" -> "Dom")),
      rawEvent("gE", "ENTITY_CREATE", 110L, "m4i_data_entity",
        Map("qualifiedName" -> "ent", "name" -> "Ent")),
      // domain gets a domainLead → derived role guid on gD's doc
      s"""{"kafkaNotification":{"eventTime":120,"operationType":"ENTITY_UPDATE","guid":"gD"},
         |"atlasEntity":{"guid":"gD","typeName":"m4i_data_domain",
         |"attributes":{"qualifiedName":"dom","name":"Dom"},
         |"relationshipAttributes":{"domainLead":[{"guid":"gP","typeName":"m4i_person","entityStatus":"ACTIVE"}]},
         |"createTime":1,"updateTime":120}}""".stripMargin.replaceAll("\n", "")
    ).toDF("value")
    val (docs1, _, _, _) = Pipeline.run(spark, batch1, emptyDocs)
    // batch 2: gE re-parents under gD → inherits gD's derived role guid
    val batch2 = Seq(rawEvent("gE", "ENTITY_UPDATE", 200L, "m4i_data_entity",
      Map("qualifiedName" -> "ent", "name" -> "Ent"),
      parentRel = Some(("parent", "gD")))).toDF("value")
    val (docs2, _, _, _) =
      Pipeline.run(spark, batch2, docs1.localCheckpoint(true))
    val ent = docs2.filter(col("guid") === "gE").collect().head
    assert(ent.seq("breadcrumbGuid") == Seq("gD"))
    assert(ent.getAs[Map[String, String]]("derivedGuids") ==
      Map("deriveddomainleadguid" -> "gP"))
  }

  test("derived updates cascade to descendants via breadcrumbs (G12)") {
    import spark.implicits._
    // build dom -> ent chain first
    val batch1 = Seq(
      rawEvent("gD", "ENTITY_CREATE", 100L, "m4i_data_domain",
        Map("qualifiedName" -> "dom", "name" -> "Dom")),
      rawEvent("gE", "ENTITY_CREATE", 110L, "m4i_data_entity",
        Map("qualifiedName" -> "ent", "name" -> "Ent"))).toDF("value")
    val (d1, _, _, _) = Pipeline.run(spark, batch1, emptyDocs)
    val batch2 = Seq(rawEvent("gE", "ENTITY_UPDATE", 150L, "m4i_data_entity",
      Map("qualifiedName" -> "ent", "name" -> "Ent"),
      parentRel = Some(("parent", "gD")))).toDF("value")
    val (d2, _, _, _) = Pipeline.run(spark, batch2, d1.localCheckpoint(true))
    // now the ROOT gains a domainLead; the child below must receive it
    val batch3 = Seq(
      s"""{"kafkaNotification":{"eventTime":200,"operationType":"ENTITY_UPDATE","guid":"gD"},
         |"atlasEntity":{"guid":"gD","typeName":"m4i_data_domain",
         |"attributes":{"qualifiedName":"dom","name":"Dom"},
         |"relationshipAttributes":{"domainLead":[{"guid":"gP","typeName":"m4i_person","entityStatus":"ACTIVE"}]},
         |"createTime":1,"updateTime":200}}""".stripMargin.replaceAll("\n", "")
    ).toDF("value")
    val (d3, _, _, _) = Pipeline.run(spark, batch3, d2.localCheckpoint(true))
    val ent = d3.filter(col("guid") === "gE").collect().head
    assert(ent.getAs[Map[String, String]]("derivedGuids") ==
      Map("deriveddomainleadguid" -> "gP"))
  }

  test("re-parenting cascades breadcrumb rebuild to grandchildren (G9/G10)") {
    import spark.implicits._
    // build dom1, dom2, ent, att; chain: ent->dom1, att->ent
    val batch1 = Seq(
      rawEvent("gD1", "ENTITY_CREATE", 100L, "m4i_data_domain",
        Map("qualifiedName" -> "d1", "name" -> "D1")),
      rawEvent("gD2", "ENTITY_CREATE", 101L, "m4i_data_domain",
        Map("qualifiedName" -> "d2", "name" -> "D2")),
      rawEvent("gE", "ENTITY_CREATE", 110L, "m4i_data_entity",
        Map("qualifiedName" -> "ent", "name" -> "Ent")),
      rawEvent("gA", "ENTITY_CREATE", 111L, "m4i_data_attribute",
        Map("qualifiedName" -> "att", "name" -> "Att"))).toDF("value")
    val (d1, _, _, _) = Pipeline.run(spark, batch1, emptyDocs)
    val (d2, _, _, _) = Pipeline.run(spark,
      Seq(rawEvent("gE", "ENTITY_UPDATE", 120L, "m4i_data_entity",
        Map("qualifiedName" -> "ent", "name" -> "Ent"),
        parentRel = Some(("parent", "gD1")))).toDF("value"),
      d1.localCheckpoint(true))
    val (d3, _, _, _) = Pipeline.run(spark,
      Seq(rawEvent("gA", "ENTITY_UPDATE", 130L, "m4i_data_attribute",
        Map("qualifiedName" -> "att", "name" -> "Att"),
        parentRel = Some(("parent", "gE")))).toDF("value"),
      d2.localCheckpoint(true))
    assert(d3.filter(col("guid") === "gA").collect().head
      .seq("breadcrumbGuid") == Seq("gD1", "gE"))

    // re-parent the MIDDLE node: the grandchild's path must follow
    val (d4, _, _, _) = Pipeline.run(spark,
      Seq(rawEvent("gE", "ENTITY_UPDATE", 140L, "m4i_data_entity",
        Map("qualifiedName" -> "ent", "name" -> "Ent"),
        parentRel = Some(("parent", "gD2")))).toDF("value"),
      d3.localCheckpoint(true))
    val att = d4.filter(col("guid") === "gA").collect().head
    assert(att.seq("breadcrumbGuid") == Seq("gD2", "gE"))
    assert(att.seq("breadcrumbName") == Seq("D2", "Ent"))
  }

  test("relationship deletes clear derived links and roles; rename updates derived names (G14-G16, G18)") {
    import spark.implicits._
    // attribute linked to field + domainLead on attribute
    val batch1 = Seq(
      rawEvent("gAt", "ENTITY_CREATE", 100L, "m4i_data_attribute",
        Map("qualifiedName" -> "att", "name" -> "Att")),
      rawEvent("gF", "ENTITY_CREATE", 101L, "m4i_field",
        Map("qualifiedName" -> "fld", "name" -> "Fld")),
      s"""{"kafkaNotification":{"eventTime":110,"operationType":"ENTITY_UPDATE","guid":"gAt"},
         |"atlasEntity":{"guid":"gAt","typeName":"m4i_data_attribute",
         |"attributes":{"qualifiedName":"att","name":"Att"},
         |"relationshipAttributes":{
         |  "fields":[{"guid":"gF","typeName":"m4i_field","entityStatus":"ACTIVE"}],
         |  "domainLead":[{"guid":"gP","typeName":"m4i_person","entityStatus":"ACTIVE"}]},
         |"createTime":1,"updateTime":110}}""".stripMargin.replaceAll("\n", "")
    ).toDF("value")
    val (d1, _, _, v1) = Pipeline.run(spark, batch1, emptyDocs)
    val base1 = graft.store.VersionedStore.latest(v1).localCheckpoint(true)

    // G18: renaming the field updates the attribute's derivedfield NAME
    val (d2, _, _, v2) = Pipeline.run(spark,
      Seq(rawEvent("gF", "ENTITY_UPDATE", 120L, "m4i_field",
        Map("qualifiedName" -> "fld", "name" -> "Fld2"))).toDF("value"),
      d1.localCheckpoint(true), Some(base1))
    assert(d2.filter(col("guid") === "gAt").collect().head
      .getAs[Map[String, String]]("derivedNames")("derivedfield") == "Fld2")

    // deleting both relationships clears links (both ends) and the role —
    // cross-batch diff sees prior state via the store-seeded base
    val base2 = graft.store.VersionedStore.latest(
      v1.unionByName(v2)).localCheckpoint(true)
    val batch3 = Seq(
      s"""{"kafkaNotification":{"eventTime":130,"operationType":"ENTITY_UPDATE","guid":"gAt"},
         |"atlasEntity":{"guid":"gAt","typeName":"m4i_data_attribute",
         |"attributes":{"qualifiedName":"att","name":"Att"},
         |"relationshipAttributes":{},
         |"createTime":1,"updateTime":130}}""".stripMargin.replaceAll("\n", "")
    ).toDF("value")
    val (d3, _, _, _) = Pipeline.run(spark, batch3, d2.localCheckpoint(true),
      Some(base2))
    val at = d3.filter(col("guid") === "gAt").collect().head
    assert(at.getAs[Map[String, String]]("derivedGuids").isEmpty)
    val fl = d3.filter(col("guid") === "gF").collect().head
    assert(fl.getAs[Map[String, String]]("derivedGuids").isEmpty)
  }

  test("replaying the same batch is idempotent (effectively-once on retry)") {
    import spark.implicits._
    val batch = Seq(
      rawEvent("g1", "ENTITY_CREATE", 100L, "m4i_system",
        Map("qualifiedName" -> "sys", "name" -> "Sys")),
      rawEvent("g1", "ENTITY_UPDATE", 110L, "m4i_system",
        Map("qualifiedName" -> "sys", "name" -> "Sys2"))).toDF("value")
    val (once, _, _, _) = Pipeline.run(spark, batch, emptyDocs)
    val store1 = once.localCheckpoint(true)
    // a failed microbatch commit replays the same data over the new store
    val (twice, _, _, _) = Pipeline.run(spark, batch, store1)
    val a = store1.orderBy("guid").collect().map(_.toString).toSeq
    val b = twice.orderBy("guid").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("second batch applies incrementally on the previous store (microbatch shape)") {
    import spark.implicits._
    val batch1 = Seq(rawEvent("g1", "ENTITY_CREATE", 100L, "m4i_system",
      Map("qualifiedName" -> "sys", "name" -> "Sys"))).toDF("value")
    val (docs1, _, _, _) = Pipeline.run(spark, batch1, emptyDocs)
    val store1 = docs1.localCheckpoint(true)

    val batch2 = Seq(
      rawEvent("g1", "ENTITY_DELETE", 200L, "m4i_system",
        Map("qualifiedName" -> "sys", "name" -> "Sys")),
      rawEvent("g2", "ENTITY_CREATE", 210L, "m4i_collection",
        Map("qualifiedName" -> "col", "name" -> "Col"))).toDF("value")
    val (docs2, _, _, _) = Pipeline.run(spark, batch2, store1)
    val rows = docs2.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("guid") == "g2")
    assert(rows.head.getAs[String]("sourceType") == "Technical")
  }
}
