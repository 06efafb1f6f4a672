package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.store.{DocumentStore, ModelStore, Pointer}
import graft.streaming.{StreamingAnn, StreamingRelease}

/** The one-line pointer file every store and tag commits through: round
  * trip, crash leftovers, files written by Hadoop's checksummed local
  * filesystem, directory tags, and readers racing a re-tagging writer. */
class PointerSpec extends AnyFunSuite {
  import SparkTestSession._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def withDir(body: java.nio.file.Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-pointer-")
    try body(dir) finally ModelStore.deleteRecursively(dir)
  }

  test("round trip: absent reads None; a write replaces the payload; file: and schemeless paths name the same pointer") {
    withDir { dir =>
      val p = s"$dir/_CURRENT"
      assert(Pointer.read(p, conf) === None)
      Pointer.write(p, "3", conf)
      assert(Pointer.read(p, conf) === Some("3"))
      Pointer.write(s"file:$p", "4", conf)
      assert(Pointer.read(p, conf) === Some("4"))
      assert(Files.readString(Paths.get(p)) === "4")
      // only the pointer remains: the temp file was renamed onto it
      assert(scala.util.Using.resource(Files.list(dir))(_.count()) === 1)
    }
  }

  test("a temp file left by a crashed writer breaks neither the next read nor the next write") {
    withDir { dir =>
      val p = s"$dir/_folded_upto"
      Pointer.write(p, "7", conf)
      Files.writeString(dir.resolve("._folded_upto.tmp"), "garbage-9")
      assert(Pointer.read(p, conf) === Some("7"))
      assert(StreamingRelease.ledgerFoldBoundary(spark, dir.toString)
        === Some(7L))
      Pointer.write(p, "8", conf)
      assert(StreamingRelease.ledgerFoldBoundary(spark, dir.toString)
        === Some(8L))
      // the same for a tag: the leftover is never listed as a tag
      val tags = dir.resolve("tags")
      StreamingRelease.tagSnapshot(spark, tags.toString, "t", 1L)
      Files.writeString(tags.resolve(".tag=t.tmp"), "x y z")
      assert(StreamingRelease.taggedBatches(spark, tags.toString)
        === Set(1L))
      StreamingRelease.tagSnapshot(spark, tags.toString, "t", 2L)
      assert(StreamingRelease.resolveTag(spark, tags.toString, "t") === 2L)
      // and for a store pointer
      val store = new DocumentStore(spark, dir.resolve("docs").toString,
        nBuckets = 4)
      Files.writeString(dir.resolve("docs/._CURRENT.tmp"), "junk")
      assert(store.currentVersion === None && store.formatVersion === 2)
    }
  }

  test("a pointer written through Hadoop's checksummed local filesystem still reads after a re-write leaves its .crc sidecar stale") {
    withDir { dir =>
      // the write sequence tags and fold boundaries used before this
      // primitive: create through the Hadoop FileSystem (which writes a
      // .crc sidecar), then FileContext rename with OVERWRITE
      import org.apache.hadoop.fs.{FileContext, Options, Path}
      val tagDir = new Path(dir.toString)
      val fs = tagDir.getFileSystem(conf)
      val tmp = new Path(tagDir, ".tag-old.tmp")
      val out = fs.create(tmp, true)
      try out.write("5 11".getBytes("UTF-8")) finally out.close()
      val dest = new Path(tagDir, "tag=old")
      FileContext.getFileContext(tagDir.toUri, conf)
        .rename(tmp, dest, Options.Rename.OVERWRITE)
      assert(Files.exists(dir.resolve(".tag=old.crc")))
      assert(StreamingAnn.resolveIndexTag(spark, dir.toString, "old")
        === ((5L, 11L)))
      StreamingAnn.tagIndexSnapshot(spark, dir.toString, "old", 12L, 130L)
      assert(Files.exists(dir.resolve(".tag=old.crc"))) // now stale
      assert(StreamingAnn.resolveIndexTag(spark, dir.toString, "old")
        === ((12L, 130L)))
      assert(StreamingAnn.taggedIndexVersions(spark, dir.toString)
        === Set(130L))
    }
  }

  test("a directory tag (1-row parquet) resolves, pins, and is replaced by a pointer file on re-tag") {
    withDir { dir =>
      import spark.implicits._
      val rel = dir.resolve("rel")
      Seq(4L).toDF("batch").write.parquet(s"$rel/tag=old")
      assert(StreamingRelease.resolveTagWithNonce(spark, rel.toString,
        "old") === ((4L, None)))
      assert(StreamingRelease.taggedBatches(spark, rel.toString)
        === Set(4L))
      StreamingRelease.tagSnapshot(spark, rel.toString, "old", 6L,
        Some("6.1.2"))
      assert(Files.isRegularFile(rel.resolve("tag=old")))
      assert(StreamingRelease.resolveTagWithNonce(spark, rel.toString,
        "old") === ((6L, Some("6.1.2"))))
      val idx = dir.resolve("idx")
      Seq((1L, 3L)).toDF("batch", "version").write.parquet(s"$idx/tag=old")
      StreamingAnn.tagIndexSnapshot(spark, idx.toString, "new", 2L, 5L)
      assert(StreamingAnn.taggedIndexVersions(spark, idx.toString)
        === Set(3L, 5L))
      StreamingAnn.tagIndexSnapshot(spark, idx.toString, "old", 7L, 9L)
      assert(Files.isRegularFile(idx.resolve("tag=old")))
      assert(StreamingAnn.resolveIndexTag(spark, idx.toString, "old")
        === ((7L, 9L)))
    }
  }

  test("re-tagging never hides a tag or a pinned version from a concurrent reader") {
    withDir { dir =>
      val rel = dir.resolve("rel").toString
      val idx = dir.resolve("idx").toString
      StreamingRelease.tagSnapshot(spark, rel, "moving", 0L)
      StreamingAnn.tagIndexSnapshot(spark, idx, "moving", 0L, 0L)
      StreamingAnn.tagIndexSnapshot(spark, idx, "fixed", 0L, 1000000L)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reads = new java.util.concurrent.atomic.AtomicLong(0)
      val reader = new Thread(() =>
        while (!done.get) {
          try {
            StreamingRelease.resolveTag(spark, rel, "moving")
            val pins = StreamingAnn.taggedIndexVersions(spark, idx)
            if (pins.size != 2 || !pins.contains(1000000L))
              failures.add(s"pins $pins")
          } catch { case e: Exception => failures.add(e.toString) }
          reads.incrementAndGet()
        })
      reader.start()
      try {
        while (reads.get == 0) Thread.sleep(1)
        (1L to 250L).foreach { i =>
          StreamingRelease.tagSnapshot(spark, rel, "moving", i)
          StreamingAnn.tagIndexSnapshot(spark, idx, "moving", i, i)
        }
      } finally {
        done.set(true)
        reader.join()
      }
      assert(failures.isEmpty,
        s"${failures.size} of ${reads.get} reads failed, first: " +
          failures.peek)
      assert(StreamingRelease.resolveTag(spark, rel, "moving") === 250L)
      assert(StreamingAnn.taggedIndexVersions(spark, idx)
        === Set(250L, 1000000L))
    }
  }
}
