package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.store.{ModelStore, Pointer}

/** COMPOSITE "training run" tags (VERDICT r14 #3): "what run N saw" is
  * a corpus snapshot AND an index snapshot, but the two tag stores are
  * separate — callers had to coordinate two names by convention, with
  * no shared fencing or crash story. A run tag binds both under ONE
  * fenced name: [[tagRun]] writes the same name into the release tag
  * store (corpus as-of batch) and the index tag store ((as-of batch,
  * version) pair), each write crash-atomic on its own (pointer-file
  * rename). Cross-store atomicity is BY REFUSAL, not by transaction:
  * [[resolveRun]] requires the name present in BOTH stores and refuses
  * a half-tagged run loudly — a crash between the two writes is
  * visible on the next resolve, never half-served. The write order
  * makes the release tag the commit point (the index half lands
  * first). Presence alone is not enough on a RE-tag — both names
  * already exist, so a crash between the writes would leave the NEW
  * index half beside the OLD release half, each individually valid.
  * Every tagRun therefore stamps both pointers with the same
  * GENERATION NONCE (the run's (corpusBatch, indexBatch, indexVersion)
  * triple — two generations with identical triples are the same run,
  * so equal nonces never mix runs), and [[resolveRun]] refuses halves
  * whose nonces disagree as a torn re-tag. Pre-nonce run tags (both
  * halves bare, the old single-store convention) still resolve.
  *
  * The reads a run tag feeds are the existing single-store serves —
  * [[StreamingRelease.releaseManifestAt]] and [[StreamingAnn.searchAt]]
  * — by the run's name; the composite layer adds only the existence
  * gate and the one-name ergonomics ([[manifestAtRun]] /
  * [[searchAtRun]] / [[knnJoinAtRun]] are thin delegations, spec-pinned
  * bit-identical to the single-store reads). The GC pin contract
  * composes the same way: a run tag's index half appears in
  * [[StreamingAnn.taggedIndexVersions]], so tag-pinned version GC
  * protects run-tagged indexes with no extra wiring. */
object RunTags {

  /** The generation nonce both halves of one [[tagRun]] carry: the
    * run's own triple. Deterministic on purpose — re-tagging to an
    * IDENTICAL triple reuses the nonce, and mixing halves of equal
    * generations is the identity. */
  private def runNonce(corpusBatch: Long, indexBatch: Long,
      indexVersion: Long): String =
    s"$corpusBatch.$indexBatch.$indexVersion"

  /** Bind (corpus as-of `corpusBatch`, index (`indexBatch`,
    * `indexVersion`)) under `name` in both stores. Re-tagging moves
    * BOTH halves (each an atomic pointer swap); a crash between them
    * leaves mismatched generation nonces, which [[resolveRun]]
    * refuses. */
  def tagRun(spark: SparkSession, name: String,
      releaseTagPath: String, corpusBatch: Long,
      indexTagPath: String, indexBatch: Long,
      indexVersion: Long): Unit = {
    val nonce = Some(runNonce(corpusBatch, indexBatch, indexVersion))
    StreamingAnn.tagIndexSnapshot(spark, indexTagPath, name,
      indexBatch, indexVersion, nonce)
    StreamingRelease.tagSnapshot(spark, releaseTagPath, name,
      corpusBatch, nonce) // commit point
  }

  /** Resolve a run to (corpus batch, index batch, index version).
    * Refuses an unknown name, a half-tagged one (present in only one
    * store — a crashed first [[tagRun]]), AND a torn re-tag (both
    * present with disagreeing generation nonces — a crashed re-tag;
    * re-tag to repair). Both halves bare of nonces is the pre-nonce
    * convention and resolves. */
  def resolveRun(spark: SparkSession, name: String,
      releaseTagPath: String, indexTagPath: String)
      : (Long, Long, Long) = {
    val n = Pointer.validTag(name)
    def half[T](read: => T): Option[T] =
      try Some(read)
      catch { case _: IllegalArgumentException => None }
    val rel = half(
      StreamingRelease.resolveTagWithNonce(spark, releaseTagPath, n))
    val idx = half(
      StreamingAnn.resolveIndexTagWithNonce(spark, indexTagPath, n))
    (rel, idx) match {
      case (Some((cb, rn)), Some((ib, iv, in_))) =>
        require(rn == in_,
          s"torn run tag '$n': the release half carries generation " +
            s"${rn.getOrElse("<none>")} but the index half carries " +
            s"${in_.getOrElse("<none>")} — a crashed re-tag; re-tag " +
            "the run to repair (serving mixed halves would silently " +
            "mix runs)")
        (cb, ib, iv)
      case (None, None) => throw new IllegalArgumentException(
        s"unknown run tag '$n' (neither $releaseTagPath nor " +
          s"$indexTagPath has it)")
      case (have, _) =>
        val (present, missing) =
          if (have.isDefined) (releaseTagPath, indexTagPath)
          else (indexTagPath, releaseTagPath)
        throw new IllegalArgumentException(
          s"half-tagged run '$n': present in $present but missing " +
            s"from $missing — a crashed tagRun; re-tag the run to " +
            "repair (serving one half would silently mix runs)")
    }
  }

  /** [[StreamingRelease.releaseManifestAt]] at a run tag — the corpus
    * half, gated on the run resolving WHOLE. */
  def manifestAtRun(spark: SparkSession, name: String,
      scorePath: String, releaseTagPath: String, indexTagPath: String,
      shards: Int = 8, tombPath: Option[String] = None): DataFrame = {
    resolveRun(spark, name, releaseTagPath, indexTagPath)
    StreamingRelease.releaseManifestAt(spark, scorePath,
      releaseTagPath, name, shards, tombPath)
  }

  /** [[StreamingAnn.searchAt]] at a run tag — the index half, gated on
    * the run resolving WHOLE. */
  def searchAtRun(spark: SparkSession, name: String, store: ModelStore,
      codesPath: String, releaseTagPath: String, indexTagPath: String,
      qVec: Map[Int, Double], qId: Long = -1L, topK: Int = 10,
      nprobe: Int = 2, m: Int = 4, dim: Int = 64, rerankK: Int = 100,
      tombPath: Option[String] = None): DataFrame = {
    resolveRun(spark, name, releaseTagPath, indexTagPath)
    StreamingAnn.searchAt(spark, store, codesPath, indexTagPath, name,
      qVec, qId, topK, nprobe, m, dim, rerankK, tombPath)
  }

  /** [[StreamingAnn.sweepRerankedAt]] at a run tag — the multi-nprobe
    * sweep core, gated on the run resolving WHOLE (the
    * [[searchAtRun]] contract applied to the one-scan sweep). */
  def sweepRerankedAtRun(spark: SparkSession, name: String,
      store: ModelStore, codesPath: String, releaseTagPath: String,
      indexTagPath: String, qVec: Map[Int, Double], qId: Long = -1L,
      npMax: Int = 4, m: Int = 4, dim: Int = 64, rerankK: Int = 100,
      tombPath: Option[String] = None): DataFrame = {
    resolveRun(spark, name, releaseTagPath, indexTagPath)
    StreamingAnn.sweepRerankedAt(spark, store, codesPath, indexTagPath,
      name, qVec, qId, npMax, m, dim, rerankK, tombPath)
  }

  /** [[StreamingAnn.knnJoinAt]] at a run tag. */
  def knnJoinAtRun(spark: SparkSession, name: String, store: ModelStore,
      codesPath: String, releaseTagPath: String, indexTagPath: String,
      queries: DataFrame, topK: Int = 5, nprobe: Int = 2, m: Int = 4,
      dim: Int = 64, rerankK: Int = 50, excludeSelf: Boolean = true,
      broadcastQueries: Boolean = true,
      tombPath: Option[String] = None): DataFrame = {
    resolveRun(spark, name, releaseTagPath, indexTagPath)
    StreamingAnn.knnJoinAt(spark, store, codesPath, indexTagPath, name,
      queries, topK, nprobe, m, dim, rerankK, excludeSelf,
      broadcastQueries, tombPath)
  }
}
