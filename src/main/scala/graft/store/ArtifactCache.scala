package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-process cache of derived relational artifacts, parquet-backed:
  * key → a parquet directory holding a deterministic frame computed
  * from the source tables. Generalizes the r7 dup-cluster artifact
  * (train-once/serve-many applied to derived tables): queries that
  * COMPOSE an expensive artifact serve from the persisted copy instead
  * of recomputing it, and the artifact itself is exactly what a
  * production pipeline would write once per corpus version (a
  * co-purchase edge table, a cluster map, an ANN index).
  *
  * Parquet-backed on purpose — artifacts are corpus-sized, never
  * driver-held. Keys must embed a content fingerprint of every source
  * table the artifact reads ([[tableFingerprint]]) so a rewritten
  * corpus invalidates the cache instead of silently serving stale
  * rows. Publishes are serialized AND each publish writes a fresh
  * directory that is swapped into the map only after the write
  * completes — a reader holding the old entry keeps scanning complete
  * files, never a half-overwritten directory (ADVICE r8); every
  * directory, current or replaced, is deleted on JVM exit.
  */
object ArtifactCache {

  private val artifacts =
    scala.collection.concurrent.TrieMap.empty[Seq[String], String]
  // per key, the directory the CURRENT one replaced: retained so a
  // reader that resolved the old entry keeps scanning complete files,
  // reclaimed when the NEXT publish of the same key makes it two
  // generations old — disk is bounded at two generations per key, not
  // one per publish (review r9)
  private val prevDirs =
    scala.collection.concurrent.TrieMap.empty[Seq[String], String]
  // every directory not yet individually reclaimed — deleted at JVM exit
  private val allDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  locally { // one hook for every artifact this process ever publishes
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      allDirs.forEach { p =>
        try ModelStore.deleteRecursively(java.nio.file.Paths.get(p))
        catch { case _: Throwable => () }
      }))
  }

  /** Register an externally-created directory for JVM-exit reclamation
    * (the [[ModelStore.shared]] model cache rides this hook). */
  private[store] def trackDir(p: String): Unit = { allDirs.add(p); () }

  /** Content fingerprint of `dir/table.parquet` (file names, sizes,
    * mtimes) — cheap, no data read, and changes whenever the table is
    * rewritten. Embed one per source table in the artifact key. */
  def tableFingerprint(dir: String, table: String): String = {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files => nio}
    val p = java.nio.file.Paths.get(dir, s"$table.parquet")
    if (!nio.exists(p)) "absent"
    else {
      val files =
        if (nio.isDirectory(p))
          scala.util.Using.resource(nio.walk(p))(
            _.iterator().asScala.filter(nio.isRegularFile(_)).toSeq)
        else Seq(p)
      files.sortBy(_.toString)
        .map(f => s"$f:${nio.size(f)}:${nio.getLastModifiedTime(f).toMillis}")
        .mkString("|").hashCode.toString
    }
  }

  /** Write `frame` to a FRESH directory and swap the key's map entry
    * atomically (always recomputes). Use from the query that IS the
    * artifact's benchmark row, so its cost stays measured while
    * composed consumers ride the cache. A re-publish never overwrites
    * the previous directory in place — a concurrent reader of the old
    * entry keeps scanning complete files; the replaced directory is
    * reclaimed by the JVM-exit hook (ADVICE r8). */
  def publish(spark: SparkSession, key: Seq[String],
      frame: DataFrame): DataFrame = synchronized {
    val path =
      java.nio.file.Files.createTempDirectory("graft-artifact-").toString
    allDirs.add(path)
    frame.write.mode("overwrite").parquet(path)
    val replaced = artifacts.put(key, path) // swap after the write completed
    // reclaim the two-generations-old directory: it became unreachable
    // before this publish even began, so only a reader spanning TWO
    // publishes of the same key could still hold it — accepted, since
    // publishes of a key are as rare as corpus rewrites; best-effort,
    // the exit hook sweeps stragglers
    replaced.foreach { r =>
      prevDirs.put(key, r).foreach { old =>
        try ModelStore.deleteRecursively(java.nio.file.Paths.get(old))
        catch { case _: java.io.IOException => () }
      }
    }
    spark.read.parquet(path)
  }

  /** Serve the key's artifact when this process already published it
    * for the CURRENT source contents, else compute and publish. The
    * compute must be deterministic, so consumers cannot observe which
    * path ran. */
  def serve(spark: SparkSession, key: Seq[String])(
      compute: => DataFrame): DataFrame =
    artifacts.get(key) match {
      case Some(path) => spark.read.parquet(path)
      case None => publish(spark, key, compute)
    }
}
