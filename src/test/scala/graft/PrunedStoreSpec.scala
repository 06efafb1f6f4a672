package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucket-pruned microbatch path (VERDICT r2 #1 / r3 #1): a batch
  * touching one document must list, read, hash, and rewrite exactly that
  * document's bucket — and still produce the same store the full-path
  * dispatcher would. Cascades (breadcrumbs) and derived-link rewrites
  * (G18) reach across buckets through the narrow summary index, never a
  * full-store scan. */
@SlowTest
class PrunedStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private val relT = "map<string,array<struct<guid:string,typeName:string," +
    "entityStatus:string,displayText:string,relationshipType:string," +
    "relationshipGuid:string,relationshipStatus:string>>>"

  /** Changes frame with no relationship events (feeds applyAll's G15/G16
    * extraction — the tests here deliver parent edges as message rows). */
  private def emptyDirect = {
    import spark.implicits._
    Seq.empty[(String, String, Long, Boolean)]
      .toDF("guid", "typeName", "updateTime", "directChange")
      .withColumn("insertedRelationships", lit(null).cast(relT))
      .withColumn("deletedRelationships", lit(null).cast(relT))
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

  private def messages(
      rows: Seq[(String, String, String, String, Long, Map[String, String],
        Option[String], Boolean, Boolean)]): DataFrame = {
    import spark.implicits._
    rows.toDF("guid", "typeName", "qualifiedName", "eventType", "seq",
      "attributes", "parentGuid", "parentRemoved", "directChange")
  }

  /** Deterministic per-column flattening so full-path and pruned-path
    * results compare as sorted strings (map entry order is unspecified). */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq.map { c =>
      df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.MapType =>
          array_join(array_sort(transform(map_entries(col(c)),
            e => concat_ws("=", e("key"), e("value").cast("string")))), "|")
            .as(c)
        case _ => col(c).cast("string").as(c)
      }
    }
    df.select(cols: _*).orderBy("guid").collect().map(_.mkString(""))
      .toSeq
  }

  private def bucketDirs(storeDir: String, prefix: String, v: Long)
      : Set[String] = {
    import scala.jdk.CollectionConverters._
    val d = java.nio.file.Paths.get(storeDir, s"$prefix$v")
    if (!java.nio.file.Files.isDirectory(d)) Set.empty
    else java.nio.file.Files.list(d).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("_bucket="))
      .toSet
  }

  private def allFiles(storeDir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(storeDir)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p))
      .toMap
  }

  test("pruned path: 1-doc batch reads/writes exactly one bucket; cascades and derived links cross buckets via the summary index") {
    val nB = 8
    val dir = java.nio.file.Files.createTempDirectory("graft-pruned").toString
    val store = new graft.store.DocumentStore(spark, dir, nBuckets = nB)
    assert(store.formatVersion == 2)

    // bucket map for guid selection (mirror of the store's internal router)
    import spark.implicits._
    val guids = (0 until 64).map(i => s"g$i")
    val bucketOf = guids.toDF("guid")
      .select(col("guid"), pmod(hash(col("guid")), lit(nB)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val parentG = "g0"
    val childG = guids.find(g => g != parentG &&
      bucketOf(g) != bucketOf(parentG)).get
    // derived-link pair in two further distinct buckets, disjoint from the
    // parent/child pair so each scenario isolates its own bucket set
    val attrG = guids.find(g => !Set(parentG, childG).contains(g) &&
      !Set(bucketOf(parentG), bucketOf(childG)).contains(bucketOf(g))).get
    val fieldG = guids.find(g => !Set(parentG, childG, attrG).contains(g) &&
      !Set(bucketOf(parentG), bucketOf(childG), bucketOf(attrG))
        .contains(bucketOf(g))).get

    // ---- seed: 64 docs, childG parented under parentG, attrG↔fieldG linked
    val creates = guids.map(g => (g, "m4i_dataset", s"q/$g", "EntityCreated",
      1L, Map("qualifiedName" -> s"q/$g", "name" -> s"Name-$g"),
      None: Option[String], false, true))
    val edge = (childG, null: String, null: String, "EntityRelationshipAudit",
      10L, Map.empty[String, String], Some(parentG), false, true)
    val link = Seq((attrG, fieldG, 1L)).toDF("attrGuid", "fieldGuid", "seq")
    val seeded = graft.docs.DocumentAlgebra.resolveAttributeFieldLinks(
      graft.jobs.Pipeline.applyAll(emptyDocs, messages(creates :+ edge),
        emptyDirect),
      link, link.limit(0))
    store.sync(Materialize.checkpoint(seeded))
    assert(store.currentVersion.contains(0L))
    assert(bucketDirs(dir, "v", 0).size == nB)
    val seededFiles = allFiles(dir)

    // ---- scenario 1: attribute-only rename of an untangled leaf → ONE bucket
    val leafG = guids.find(g =>
      !Set(parentG, childG, attrG, fieldG).contains(g) &&
      !Set(bucketOf(parentG), bucketOf(childG), bucketOf(attrG),
        bucketOf(fieldG)).contains(bucketOf(g))).get
    val m1 = messages(Seq((leafG, "m4i_dataset", s"q/$leafG",
      "EntityAttributeAudit", 20L, Map("name" -> "Leaf renamed"),
      None, false, true)))
    val expected1 = canon(graft.jobs.Pipeline.applyAll(
      store.read().get, m1, emptyDirect))
    // the routed read lists ONLY the leaf's bucket files
    val touched1 = Seq(leafG).toDF("guid")
    val (loaded1, buckets1) =
      graft.jobs.Pipeline.loadTouchedBuckets(store, touched1)
    assert(buckets1 == Set(bucketOf(leafG)))
    assert(loaded1.inputFiles.nonEmpty && loaded1.inputFiles.forall(
      _.contains(s"_bucket=${bucketOf(leafG)}")),
      s"pruned read escaped its bucket: ${loaded1.inputFiles.toSeq}")
    val (docs1, b1) = graft.jobs.Pipeline.applyPruned(store, m1, emptyDirect)
    assert(b1 == Set(bucketOf(leafG)))
    store.syncBuckets(Materialize.checkpoint(docs1), b1)
    assert(store.currentVersion.contains(1L))
    // exactly one bucket's data AND hash files written; everything else
    // byte-identical
    assert(bucketDirs(dir, "v", 1) == Set(s"_bucket=${bucketOf(leafG)}"))
    assert(bucketDirs(dir, "hashes-", 1) == Set(s"_bucket=${bucketOf(leafG)}"))
    val after1 = allFiles(dir)
    assert(seededFiles.forall { case (f, sz) => after1.get(f).contains(sz) },
      "a pre-batch file was rewritten or removed")
    assert(canon(store.read().get) == expected1)

    // ---- scenario 2: rename the parent → cascade reaches the cross-bucket
    // descendant through the breadcrumb index
    val m2 = messages(Seq((parentG, "m4i_dataset", s"q/$parentG",
      "EntityAttributeAudit", 30L, Map("name" -> "Root renamed"),
      None, false, true)))
    val expected2 = canon(graft.jobs.Pipeline.applyAll(
      store.read().get, m2, emptyDirect))
    val (docs2, b2) = graft.jobs.Pipeline.applyPruned(store, m2, emptyDirect)
    assert(b2 == Set(bucketOf(parentG), bucketOf(childG)))
    store.syncBuckets(Materialize.checkpoint(docs2), b2)
    assert(canon(store.read().get) == expected2)
    val child = store.read().get.filter(col("guid") === childG).collect().head
    assert(child.getAs[scala.collection.Seq[String]]("breadcrumbName")
      == Seq("Root renamed"))

    // ---- scenario 3: rename the linked attribute → G18 derived rewrite
    // reaches the cross-bucket field doc through the linkedGuids index
    val m3 = messages(Seq((attrG, "m4i_dataset", s"q/$attrG",
      "EntityAttributeAudit", 40L, Map("name" -> "Attr renamed"),
      None, false, true)))
    val expected3 = canon(graft.jobs.Pipeline.applyAll(
      store.read().get, m3, emptyDirect))
    val (docs3, b3) = graft.jobs.Pipeline.applyPruned(store, m3, emptyDirect)
    assert(b3 == Set(bucketOf(attrG), bucketOf(fieldG)))
    store.syncBuckets(Materialize.checkpoint(docs3), b3)
    assert(canon(store.read().get) == expected3)
    val field = store.read().get.filter(col("guid") === fieldG)
      .collect().head
    assert(field.getAs[Map[String, String]]("derivedNames")
      .get("deriveddataattribute").contains("Attr renamed"))
  }

  test("pruned deletes and creates route to their buckets; replayed batch is a no-op version") {
    val nB = 8
    val dir = java.nio.file.Files.createTempDirectory("graft-pruned2").toString
    val store = new graft.store.DocumentStore(spark, dir, nBuckets = nB)
    import spark.implicits._
    val guids = (0 until 32).map(i => s"d$i")
    val creates = guids.map(g => (g, "m4i_dataset", s"q/$g", "EntityCreated",
      1L, Map("qualifiedName" -> s"q/$g", "name" -> s"N-$g"),
      None: Option[String], false, true))
    store.sync(Materialize.checkpoint(graft.jobs.Pipeline.applyAll(
      emptyDocs, messages(creates), emptyDirect)))

    val bucketOf = guids.toDF("guid")
      .select(col("guid"), pmod(hash(col("guid")), lit(nB)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // one delete + one brand-new create in a single batch
    val newG = "brandNew1"
    val newB = Seq(newG).toDF("guid")
      .select(pmod(hash(col("guid")), lit(nB)).cast("int"))
      .collect().head.getInt(0)
    val m = messages(Seq(
      ("d5", null, null, "EntityDeleted", 50L, Map.empty[String, String],
        None, false, true),
      (newG, "m4i_dataset", s"q/$newG", "EntityCreated", 50L,
        Map("qualifiedName" -> s"q/$newG", "name" -> "New"),
        None, false, true)))
    val expected = canon(graft.jobs.Pipeline.applyAll(
      store.read().get, m, emptyDirect))
    val (docs, b) = graft.jobs.Pipeline.applyPruned(store, m, emptyDirect)
    assert(b == Set(bucketOf("d5"), newB))
    val v1 = store.syncBuckets(Materialize.checkpoint(docs), b)
    assert(canon(store.read().get) == expected)
    assert(store.read().get.filter(col("guid") === "d5").isEmpty)
    assert(store.read().get.filter(col("guid") === newG).count() == 1)

    // replay the same batch: deterministic result, hash diff empty → no-op
    val (docsR, bR) = graft.jobs.Pipeline.applyPruned(store, m, emptyDirect)
    assert(store.syncBuckets(Materialize.checkpoint(docsR), bR) == v1)
    assert(store.currentVersion.contains(v1))
  }
}
