package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** One-line pointer files: the commit point of every store and tag —
  * [[DocumentStore]]'s `_CURRENT`, `_NBUCKETS` and `_FORMAT`,
  * [[ModelStore]]'s `_CURRENT`, the ledger and monitor stores'
  * `_folded_upto`, and the release and index snapshot tags.
  *
  * CONTRACT. A write puts the payload in a sibling temp file
  * (`.<name>.tmp`) and then replaces the pointer with one atomic rename,
  * so a reader, or a writer that crashed at any step, sees the old
  * payload or the new one, never none and never a partial one. A temp
  * file left by a crashed writer is overwritten by the next write and
  * never read. This holds for a SINGLE WRITER per pointer on a
  * filesystem with an atomic replacing rename:
  *   - POSIX (`file:` paths): `java.nio` `ATOMIC_MOVE`. Hadoop's local
  *     filesystem implements an overwriting rename as delete-then-rename,
  *     so it is not used here. Reads go through `java.nio` as well, so a
  *     stale `.crc` sidecar left by a Hadoop writer cannot fail them.
  *   - HDFS (every other scheme): `FileContext.rename(OVERWRITE)`.
  *   - NOT S3 or other object stores, where rename is a copy: there a
  *     table format's commit protocol has to replace these pointers.
  * Schemeless paths resolve against the default filesystem. */
object Pointer {

  /** Replace the pointer at `path` with `payload`. */
  def write(path: String, payload: String, conf: Configuration): Unit = {
    val p = qualify(path, conf)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    if (isLocal(p)) {
      Files.writeString(Paths.get(tmp.toUri), payload)
      Files.move(Paths.get(tmp.toUri), Paths.get(p.toUri),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = p.getFileSystem(conf).create(tmp, true)
      try out.write(payload.getBytes(UTF_8)) finally out.close()
      FileContext.getFileContext(p.toUri, conf)
        .rename(tmp, p, Options.Rename.OVERWRITE)
    }
  }

  /** The trimmed payload at `path`, or None when no pointer exists. */
  def read(path: String, conf: Configuration): Option[String] = {
    val p = qualify(path, conf)
    try Some(
      if (isLocal(p)) Files.readString(Paths.get(p.toUri)).trim
      else {
        val in = p.getFileSystem(conf).open(p)
        try new String(in.readAllBytes, UTF_8).trim finally in.close()
      })
    catch {
      case _: NoSuchFileException | _: java.io.FileNotFoundException => None
    }
  }

  private def qualify(path: String, conf: Configuration): Path = {
    val p = new Path(path)
    if (p.toUri.getScheme != null) p
    else p.getFileSystem(conf).makeQualified(p)
  }

  private def isLocal(p: Path): Boolean = p.toUri.getScheme == "file"

  // ---- snapshot tags: `tagPath/tag=<name>` pointers whose payload is
  // space-separated longs plus an optional `#nonce` generation marker
  // (the RunTags torn-re-tag check). Tags written before pointer files
  // existed are 1-row parquet DIRECTORIES; they still read, and the
  // first re-tag replaces one with a pointer file. ----

  /** Tag names interpolate into the path, so the charset is fenced on
    * write AND read: '/' or '=' would corrupt the layout and '..' could
    * escape `tagPath`. */
  private[graft] def validTag(tag: String): String = {
    require(tag.matches("[A-Za-z0-9._-]+") && !tag.contains(".."),
      s"bad snapshot tag '$tag': use [A-Za-z0-9._-]+ without '..'")
    tag
  }

  /** Point tag `tag` at `values`. Replacing a pre-pointer directory tag
    * deletes it first (a file cannot be renamed over a directory), so
    * that one re-tag is not atomic. */
  def writeTag(spark: SparkSession, tagPath: String, tag: String,
      values: Seq[Long], nonce: Option[String] = None): Unit = {
    // the nonce rides in the payload: no '#' separator, no whitespace
    nonce.foreach(n => require(n.matches("[A-Za-z0-9._-]+"),
      s"bad run nonce '$n': use [A-Za-z0-9._-]+"))
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(tagPath, s"tag=${validTag(tag)}")
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    if (isDirectory(fs, p)) fs.delete(p, true)
    write(p.toString, values.mkString(" ") + nonce.fold("")("#" + _), conf)
  }

  /** Tag `tag`'s values and generation nonce, or None when no such tag
    * exists. A directory tag is read as its `legacyCols` and has no
    * nonce. */
  def readTag(spark: SparkSession, tagPath: String, tag: String,
      legacyCols: Seq[String]): Option[(Seq[Long], Option[String])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(tagPath, s"tag=${validTag(tag)}")
    if (isDirectory(p.getFileSystem(conf), p)) {
      val r = spark.read.parquet(p.toString)
        .selectExpr(legacyCols: _*).head()
      Some((legacyCols.indices.map(r.getLong), None))
    } else read(p.toString, conf).map { s =>
      val (values, nonce) = s.split("#", 2) match {
        case Array(v) => (v, None)
        case Array(v, n) => (v, Some(n.trim))
      }
      (values.trim.split("\\s+").toSeq.map(_.toLong), nonce)
    }
  }

  /** Names of every tag under `tagPath`; none when it does not exist. */
  def tagNames(spark: SparkSession, tagPath: String): Seq[String] = {
    val p = new Path(tagPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("tag=")).map(_.stripPrefix("tag="))
  }

  private def isDirectory(fs: FileSystem, p: Path): Boolean =
    try fs.getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
}
