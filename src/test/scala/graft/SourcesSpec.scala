package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.StringOps
import graft.sources.{LiveEnricher, SnapshotEnricher}

class SourcesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("snapshot enrichment joins entity payloads by guid (J1 join form)") {
    import spark.implicits._
    val events = Seq(("g1", 1L), ("g2", 2L), ("gX", 3L)).toDF("guid", "seq")
    val snapshot = Seq(("g1", "E1"), ("g2", "E2")).toDF("guid", "entityJson")
    val out = new SnapshotEnricher(snapshot).enrich(events)
      .orderBy("seq").collect()
    assert(out.map(_.getAs[String]("entityJson")).toSeq == Seq("E1", "E2", null))
  }

  test("live enrichment batches per partition with pooled fetch (S13)") {
    import spark.implicits._
    val events = (1 to 100).map(i => (s"g$i", i.toLong)).toDF("guid", "seq")
    val calls = spark.sparkContext.longAccumulator("fetchCalls")
    val enricher = new LiveEnricher(batch => {
      calls.add(1) // one call per BATCH, not per record
      batch.map(g => g -> s"entity-$g").toMap
    }, batchSize = 25)
    val out = enricher.enrich(events)
    assert(out.filter(col("entityJson").isNull).count() == 0)
    assert(out.count() == 100)
    assert(calls.value <= 16, s"expected batched fetches, got ${calls.value}")
  }

  test("drop columns by prefix (P7)") {
    import spark.implicits._
    val df = Seq((1, "a", "b", "c"))
      .toDF("id", "attributes_x", "attributes_y", "other")
    assert(graft.functions.StringOps.dropByPrefix(df, Seq("attributes_"))
      .columns.toSeq == Seq("id", "other"))
  }

  test("typed top-k Aggregator keeps O(k) buffers (UDAF capability)") {
    import spark.implicits._
    val agg = new graft.functions.TopKAggregator(3).toColumn
    val out = Seq(("a", 1.0), ("a", 5.0), ("a", 3.0), ("a", 9.0), ("b", 2.0))
      .toDS()
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.name("topk"))
      .collect().toMap
    assert(out("a") == Seq(9.0, 5.0, 3.0))
    assert(out("b") == Seq(2.0))
  }

  test("prefix strip + json extraction + doc id (P11-P13)") {
    import spark.implicits._
    val df = Seq(("attributes.name", """log: {"a": 1} end""", "g1", 42L))
      .toDF("k", "txt", "guid", "t")
      .select(
        StringOps.stripPrefixes(col("k"),
          Seq("attributes.", "relationshipAttributes.")).as("stripped"),
        StringOps.extractJsonObject(col("txt")).as("json"),
        StringOps.docId(col("guid"), col("t")).as("id"))
    val r = df.collect().head
    assert(r.getString(0) == "name")
    assert(r.getString(1) == """{"a": 1}""")
    assert(r.getString(2) == "g1_42")
  }
}
