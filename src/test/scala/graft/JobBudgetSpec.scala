package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
  SparkListenerJobEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.jobs.Pipeline
import graft.store.VersionedStore

/** Spark-job budget of the microbatch dispatcher: tiny canned batches
  * through `Pipeline.prepare` + `applyAll`, each checked for its documents
  * and for the number of jobs it runs. Fixed per-batch jobs set the latency
  * floor of small microbatches, so a change that adds jobs to a batch kind
  * fails here. Each budget is the count measured on local[4] plus 3: the
  * order in which AQE starts concurrently submitted stages moves a
  * batch's count by 1-3. */
class JobBudgetSpec extends AnyFunSuite {
  import SparkTestSession._

  private final class JobCounter extends SparkListener {
    val succeeded = new AtomicInteger
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobResult == JobSucceeded) succeeded.incrementAndGet()
  }

  /** Runs `f` and counts the jobs that succeeded meanwhile. The bus is
    * drained on both sides, so no earlier job leaks in and no job of `f`
    * is missed. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    val c = new JobCounter
    sc.addSparkListener(c)
    try {
      val out = f
      ListenerBusDrain.drain(sc)
      (out, c.succeeded.get)
    } finally sc.removeSparkListener(c)
  }

  test("checkpointCounted returns the exact row count in one job") {
    val narrow = spark.range(0, 1000, 1, 8).toDF().filter(col("id") % 3 === 0)
    val ((_, n), jobs) = jobsOf(Materialize.checkpointCounted(narrow))
    assert(n == 334 && jobs == 1)

    // with a shuffle, localCheckpoint runs the plan's shuffle-map job
    // itself; the count adds exactly one job on top (a fresh frame per
    // call, so the second plan cannot reuse the first one's shuffle)
    def shuffled = spark.range(0, 1000, 1, 8)
      .groupBy((col("id") % 37).as("k")).count()
    val (_, lazyJobs) = jobsOf(Materialize.checkpointLazy(shuffled))
    val ((out, m), countedJobs) =
      jobsOf(Materialize.checkpointCounted(shuffled))
    assert(m == 37 && out.count() == 37)
    assert(countedJobs == lazyJobs + 1,
      s"checkpointCounted ran $countedJobs jobs, the lazy checkpoint " +
        s"$lazyJobs")
  }

  private val parentTypes = Map("gD1" -> "m4i_data_domain",
    "gD2" -> "m4i_data_domain", "gE" -> "m4i_data_entity",
    "gF" -> "m4i_field", "gP" -> "m4i_person")

  /** One raw audit event; `rels` maps a relationship key to its target
    * guids (every update repeats the entity's standing relationships, as
    * Atlas does, so the diff sees only the intended change). */
  private def event(guid: String, op: String, time: Long, typeName: String,
      attrs: Map[String, String],
      rels: Map[String, Seq[String]] = Map.empty): String = {
    val attrJson = attrs.map { case (k, v) => s""""$k":"$v"""" }
      .mkString(",")
    val relJson = rels.map { case (k, gs) =>
      gs.map(g => s"""{"guid":"$g","typeName":"${parentTypes(g)}",""" +
          """"entityStatus":"ACTIVE"}""")
        .mkString(s""""$k":[""", ",", "]")
    }.mkString(",")
    s"""{"kafkaNotification":{"eventTime":$time,"operationType":"$op",""" +
      s""""guid":"$guid"},"atlasEntity":{"guid":"$guid",""" +
      s""""typeName":"$typeName","attributes":{$attrJson},""" +
      s""""relationshipAttributes":{$relJson},"createTime":1,""" +
      s""""updateTime":$time}}"""
  }

  private def ent(name: String, extra: (String, String)*) =
    Map("qualifiedName" -> "ent", "name" -> name) ++ extra

  /** (guid, name, definition, parentGuid, breadcrumb guids, breadcrumb
    * names, derivedNames, derivedGuids) per document, by guid; maps as
    * sorted k=v lists. */
  private def view(docs: DataFrame): Seq[String] = {
    def m(r: Row, c: String) = r.getAs[Map[String, String]](c).toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString(",")
    def a(r: Row, c: String) = r.getSeq[String](r.fieldIndex(c)).mkString("/")
    docs.collect().toSeq.map(r => Seq(r.getAs[String]("guid"),
      r.getAs[String]("name"), r.getAs[String]("definition"),
      r.getAs[String]("parentGuid"), a(r, "breadcrumbGuid"),
      a(r, "breadcrumbName"), m(r, "derivedNames"), m(r, "derivedGuids"))
      .mkString("|")).sorted
  }

  test("each dispatcher batch kind stays within its job budget") {
    import spark.implicits._
    val domain = Map("qualifiedName" -> "d1", "name" -> "D1")
    val batches: Seq[(String, Seq[String], Int, Seq[String])] = Seq(
      ("bootstrap: creates with an in-batch parent chain", Seq(
        event("gD1", "ENTITY_CREATE", 100, "m4i_data_domain", domain),
        event("gD2", "ENTITY_CREATE", 101, "m4i_data_domain",
          Map("qualifiedName" -> "d2", "name" -> "D2")),
        event("gE", "ENTITY_CREATE", 102, "m4i_data_entity", ent("Ent"),
          Map("parent" -> Seq("gD1"))),
        event("gA", "ENTITY_CREATE", 103, "m4i_data_attribute",
          Map("qualifiedName" -> "att", "name" -> "Att"),
          Map("parent" -> Seq("gE"))),
        event("gF", "ENTITY_CREATE", 104, "m4i_field",
          Map("qualifiedName" -> "fld", "name" -> "Fld"))), 54 + 3, Seq(
        "gA|Att|null|gE|gD1/gE|D1/Ent||",
        "gD1|D1|null|null||||",
        "gD2|D2|null|null||||",
        "gE|Ent|null|gD1|gD1|D1||",
        "gF|Fld|null|null||||")),
      ("attribute-only", Seq(
        event("gE", "ENTITY_UPDATE", 110, "m4i_data_entity",
          ent("Ent", "definition" -> "the entity"),
          Map("parent" -> Seq("gD1")))), 20 + 3, Seq(
        "gA|Att|null|gE|gD1/gE|D1/Ent||",
        "gD1|D1|null|null||||",
        "gD2|D2|null|null||||",
        "gE|Ent|the entity|gD1|gD1|D1||",
        "gF|Fld|null|null||||")),
      ("rename cascading to grandchildren", Seq(
        event("gD1", "ENTITY_UPDATE", 120, "m4i_data_domain",
          domain + ("name" -> "Dom1"))), 32 + 3, Seq(
        "gA|Att|null|gE|gD1/gE|Dom1/Ent||",
        "gD1|Dom1|null|null||||",
        "gD2|D2|null|null||||",
        "gE|Ent|the entity|gD1|gD1|Dom1||",
        "gF|Fld|null|null||||")),
      ("re-parent cascading to grandchildren", Seq(
        event("gE", "ENTITY_UPDATE", 130, "m4i_data_entity",
          ent("Ent", "definition" -> "the entity"),
          Map("parent" -> Seq("gD2")))), 60 + 3, Seq(
        "gA|Att|null|gE|gD2/gE|D2/Ent||",
        "gD1|Dom1|null|null||||",
        "gD2|D2|null|null||||",
        "gE|Ent|the entity|gD2|gD2|D2||",
        "gF|Fld|null|null||||")),
      ("attribute-field link plus governance role", Seq(
        event("gA", "ENTITY_UPDATE", 140, "m4i_data_attribute",
          Map("qualifiedName" -> "att", "name" -> "Att"),
          Map("parent" -> Seq("gE"), "fields" -> Seq("gF"))),
        event("gE", "ENTITY_UPDATE", 141, "m4i_data_entity",
          ent("Ent", "definition" -> "the entity"),
          Map("parent" -> Seq("gD2"), "domainLead" -> Seq("gP")))), 39 + 3, Seq(
        "gA|Att|null|gE|gD2/gE|D2/Ent|derivedfield=Fld|" +
          "deriveddomainleadguid=gP,derivedfieldguid=gF",
        "gD1|Dom1|null|null||||",
        "gD2|D2|null|null||||",
        "gE|Ent|the entity|gD2|gD2|D2||deriveddomainleadguid=gP",
        "gF|Fld|null|null|||deriveddataattribute=Att|" +
          "deriveddataattributeguid=gA")))

    var docs: DataFrame = null
    var history: Option[DataFrame] = None
    val measured = batches.map { case (kind, events, budget, expected) =>
      val raw = Materialize.checkpoint(events.toDF("value"))
      if (docs == null) docs = Pipeline.emptyDocsFor(raw)
      val base = history.map(h => Materialize.checkpoint(
        VersionedStore.latest(h)))
      val ((out, versions), jobs) = jobsOf {
        val (_, messages, direct, versions) = Pipeline.prepare(raw, base)
        (Materialize.checkpoint(Pipeline.applyAll(docs, messages, direct)),
          versions)
      }
      assert(view(out) == expected, kind)
      docs = out
      history = Some(history.fold(versions)(_.unionByName(versions)))
      (kind, jobs, budget)
    }
    measured.foreach { case (kind, jobs, budget) =>
      info(s"$kind: $jobs jobs (budget $budget)")
    }
    val over = measured.filter { case (_, jobs, budget) => jobs > budget }
    assert(over.isEmpty, s"batches over their job budget: $over")
  }
}
