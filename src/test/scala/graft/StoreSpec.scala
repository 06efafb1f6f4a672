package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.VersionedStore

class StoreSpec extends AnyFunSuite {
  import SparkTestSession._

  test("bucketed store joins co-bucketed tables without a shuffle") {
    import spark.implicits._
    val va = Seq(("g1", 100L, "a"), ("g2", 150L, "x"), ("g3", 170L, "y"))
      .toDF("guid", "updateTime", "payload")
    val vb = Seq(("g1", 200L, "b"), ("g2", 250L, "z"))
      .toDF("guid", "updateTime", "payload")
    spark.sql("DROP TABLE IF EXISTS vs_a")
    spark.sql("DROP TABLE IF EXISTS vs_b")
    // a fresh derby metastore doesn't know stale warehouse dirs — clear them
    val wh = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Seq("vs_a", "vs_b").foreach { t =>
      val d = wh.resolve(t)
      if (java.nio.file.Files.exists(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    VersionedStore.appendBucketed(va, "vs_a", nBuckets = 4)
    VersionedStore.appendBucketed(vb, "vs_b", nBuckets = 4)
    val joined = VersionedStore.readTable(spark, "vs_a").as("a")
      .join(VersionedStore.readTable(spark, "vs_b").as("b"), "guid")
    assert(joined.count() == 2)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"co-bucketed join still shuffled:\n$plan")
  }

  test("document store: incremental sync rewrites only changed buckets") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-dstore").toString
    val store = new graft.store.DocumentStore(spark, dir, nBuckets = 8)
    val v0 = (1 to 64).map(i => (s"g$i", s"payload$i", Map("k" -> s"v$i")))
      .toDF("guid", "payload", "attrs")
    store.write(v0)
    def bucketFiles(v: Long): Map[String, Seq[(String, Long)]] = {
      val vd = Paths.get(dir, s"v$v")
      if (!Files.isDirectory(vd)) Map.empty
      else Files.list(vd).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("_bucket="))
        .map(p => p.getFileName.toString ->
          Files.list(p).iterator().asScala
            .filter(_.toString.endsWith(".parquet"))
            .map(f => f.getFileName.toString -> Files.size(f)).toSeq.sorted)
        .toMap
    }
    val v0Files = bucketFiles(0)
    assert(v0Files.size == 8) // 64 guids cover all 8 buckets

    // change ONE doc; sync must rewrite only that doc's bucket
    val v1 = v0.withColumn("payload",
      when(col("guid") === "g7", lit("CHANGED")).otherwise(col("payload")))
    store.sync(graft.Materialize.checkpoint(v1))
    assert(store.currentVersion.contains(1L))
    val v1Files = bucketFiles(1)
    assert(v1Files.size == 1, s"expected 1 rewritten bucket, got $v1Files")
    // untouched bucket files in v0 are literally the same files (and the
    // manifest still points at them)
    assert(bucketFiles(0) == v0Files)
    // read-back reflects the change and nothing else
    val back = store.read().get.collect()
      .map(r => r.getAs[String]("guid") -> r.getAs[String]("payload")).toMap
    assert(back("g7") == "CHANGED" && back("g8") == "payload8"
      && back.size == 64)

    // deletion also routes to its bucket
    val v2 = v1.filter(col("guid") =!= "g13")
    store.sync(graft.Materialize.checkpoint(v2))
    assert(store.read().get.count() == 63)
    // identical store → no-op version
    val ver = store.currentVersion.get
    store.sync(graft.Materialize.checkpoint(v2))
    assert(store.currentVersion.contains(ver))

    // vacuum: version dirs still referenced by the retained manifest
    // survive; reads stay intact afterwards
    store.vacuum(keepVersions = 1)
    assert(store.read().get.count() == 63)
    assert(Files.isDirectory(Paths.get(dir, "v0"))) // holds untouched buckets
    assert(!Files.exists(Paths.get(dir, "manifest-0.txt")))
  }

  test("versioned store: append, as-of, latest, point get (S4-S7/J3)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-vstore").toString
    val v1 = Seq(("g1", 100L, "a"), ("g1", 200L, "b"), ("g2", 150L, "x"))
      .toDF("guid", "updateTime", "payload")
    VersionedStore.append(v1, dir, nBuckets = 4)
    VersionedStore.append(
      Seq(("g1", 300L, "c")).toDF("guid", "updateTime", "payload"), dir, 4)

    val store = VersionedStore.read(spark, dir)
    assert(store.count() == 4)
    assert(store.filter(col("docId") === "g1_200").count() == 1) // P13 id

    val asOf250 = VersionedStore.asOf(store, 250L).collect()
      .map(r => r.getAs[String]("guid") -> r.getAs[Long]("updateTime")).toMap
    assert(asOf250 == Map("g1" -> 200L, "g2" -> 150L))

    val latest = VersionedStore.latest(store).collect()
      .map(r => r.getAs[String]("guid") -> r.getAs[String]("payload")).toMap
    assert(latest == Map("g1" -> "c", "g2" -> "x"))

    val got = VersionedStore.byGuids(store, Seq("g2").toDF("guid"))
    assert(got.count() == 1)

    // compaction: same content, bounded file count
    val out = java.nio.file.Files.createTempDirectory("graft-compact").toString
    VersionedStore.compact(spark, dir, out, nBuckets = 2)
    val compacted = VersionedStore.read(spark, out)
    assert(compacted.count() == 4)
    assert(compacted.select("docId").collect().map(_.getString(0)).sorted.toSeq ==
      store.select("docId").collect().map(_.getString(0)).sorted.toSeq)
    import scala.jdk.CollectionConverters._
    val nFiles = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
    assert(nFiles <= 2, s"compaction left $nFiles files")
  }
}
