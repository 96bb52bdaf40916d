package graft.core

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Staged artifacts: derived data a query builds once per corpus snapshot
  * and code build, then serves to every later consumer (this session, a
  * later one, a concurrent Verify/Bench pair) as plain files under
  * `java.io.tmpdir`. Pair lists, signature frames, materialized stream
  * results, stream sources with pinned mtimes, layout copies, bucketed
  * tables and the PQ codebook all go through [[publish]].
  *
  *  - **Key.** `graft_<name>_<data fp>_<code fp>`. The data fingerprint
  *    covers the source table's canonical path and its part files'
  *    names, sizes and mtimes, so a regenerated corpus at the same path
  *    gets a fresh key. The code fingerprint is an MD5 over every class
  *    file under `graft/` in the code source of [[graft.SparkEntry]], so
  *    an edit to any operator or build closure invalidates the artifact;
  *    a false invalidation costs one honest rebuild, never a stale
  *    answer. The name is the site's, with its runtime parameters folded
  *    in by the caller.
  *  - **Publish.** The writer fills a fresh sibling tmp directory; the
  *    commit marker `_SETUP_SECONDS` (the build seconds) goes in last and
  *    one rename puts the directory in place. An artifact is served iff
  *    its marker exists; a destination without it is deleted and
  *    rebuilt; a builder that loses the rename race discards its copy
  *    (same key, same deterministic build, same content). Underscore
  *    files are invisible to Spark's file readers.
  *  - **GC.** On a build only: entries of the same site that this binary
  *    cannot serve (another code fingerprint, or an unpublished tmp
  *    copy) are deleted once older than 6 h. Younger ones may belong to
  *    a concurrent JVM built from other code and are kept.
  *  - **Setup map.** Every directory served or built in this JVM is
  *    registered; [[setupSeconds]] reads their markers for Bench's
  *    `setup` map.
  */
object Staging {

  val Marker = "_SETUP_SECONDS"

  private val MaxOrphanAgeMs = 6L * 3600 * 1000

  private val registry = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()

  /** Every class file under `graft/` in SparkEntry's code source, in
    * name order.
    */
  private[graft] lazy val codeParts: Seq[(String, Array[Byte])] = classFiles(Paths.get(
    graft.SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI))

  /** Every class file under `graft/` in a classes directory or a jar, in
    * name order. Anything else throws: a key without code would serve
    * stale artifacts.
    */
  private[graft] def classFiles(root: Path): Seq[(String, Array[Byte])] = {
    val parts =
      if (Files.isDirectory(root)) {
        val walk = Files.walk(root.resolve("graft"))
        try walk.iterator().asScala.filter(_.toString.endsWith(".class"))
          .map(p => root.relativize(p).iterator().asScala.mkString("/") ->
            Files.readAllBytes(p)).toSeq
        finally walk.close()
      } else if (Files.isRegularFile(root)) {
        val jar = new java.util.jar.JarFile(root.toFile)
        try jar.entries().asScala.toSeq
          .filter(e => e.getName.startsWith("graft/") && e.getName.endsWith(".class"))
          .map { e =>
            val in = jar.getInputStream(e)
            try e.getName -> in.readAllBytes() finally in.close()
          }
        finally jar.close()
      } else throw new IllegalStateException(s"cannot fingerprint code source $root")
    parts.sortBy(_._1)
  }

  /** First 8 hex of an MD5 over the parts' names and bytes, in order. */
  private[graft] def digest(parts: Seq[(String, Array[Byte])]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { case (n, b) => md.update(n.getBytes("UTF-8")); md.update(b) }
    md.digest().take(4).map(b => f"${b & 0xff}%02x").mkString
  }

  private[graft] lazy val codeFingerprint: String = digest(codeParts)

  /** 16 hex over the source table's canonical path, file count, and its
    * name-sorted parts' sizes and mtimes.
    */
  private[graft] def dataFingerprint(dir: String, table: String): String = {
    val src = new File(dir, s"$table.parquet")
    val parts =
      if (src.isDirectory) Option(src.listFiles()).getOrElse(Array.empty[File]).sortBy(_.getName)
      else Array(src)
    val fp = java.lang.Long.toHexString(parts.foldLeft(parts.length.toLong) { (acc, f) =>
      31 * (31 * acc + f.length()) + f.lastModified()
    })
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"${src.getCanonicalPath}|$fp".getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private[graft] def key(name: String, dataFp: String, codeFp: String): String =
    s"graft_${name}_${dataFp}_$codeFp"

  private[graft] def dirFor(dir: String, table: String, name: String): File =
    new File(System.getProperty("java.io.tmpdir"),
      key(name, dataFingerprint(dir, table), codeFingerprint))

  /** The staged directory for site `name` over `table` in corpus `dir`,
    * built by `write` into the fresh directory it is given on a miss.
    */
  def publish(dir: String, table: String, name: String)(write: File => Unit): File = {
    val dest = dirFor(dir, table, name)
    if (!committed(dest)) build(dest, name, write)
    registry.add(dest)
    dest
  }

  /** [[publish]] for a DataFrame: written as parquet, read back. */
  def frame(s: SparkSession, dir: String, table: String, name: String)
           (build: => DataFrame): DataFrame =
    s.read.parquet(publish(dir, table, name)(tmp => build.write.parquet(tmp.getPath)).getPath)

  private def committed(d: File): Boolean = new File(d, Marker).isFile

  private def build(dest: File, name: String, write: File => Unit): Unit = {
    collect(dest.getParentFile, name)
    val tmp = new File(dest.getParentFile,
      s"${dest.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    val t0 = System.nanoTime()
    try write(tmp) catch { case e: Throwable => FileUtils.deleteQuietly(tmp); throw e }
    Files.createDirectories(tmp.toPath)
    Files.writeString(tmp.toPath.resolve(Marker), String.format(java.util.Locale.ROOT,
      "%.3f%n", Double.box((System.nanoTime() - t0) / 1e9)))
    // renameTo cannot replace a directory, so a torn destination goes
    // first; the marker is re-checked so a concurrent winner stays
    if (dest.exists() && !committed(dest)) FileUtils.deleteQuietly(dest)
    if (!tmp.renameTo(dest)) {
      FileUtils.deleteQuietly(tmp)
      if (!committed(dest)) throw new java.io.IOException(s"cannot publish staged artifact $dest")
    }
  }

  private def collect(root: File, name: String): Unit = {
    val entry = (java.util.regex.Pattern.quote(s"graft_${name}_") +
      "[0-9a-f]{16}_([0-9a-f]{8})(\\.tmp\\..*)?").r
    val cutoff = System.currentTimeMillis() - MaxOrphanAgeMs
    Option(root.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      f.getName match {
        case entry(code, tmp) if (code != codeFingerprint || tmp != null) &&
          f.lastModified() < cutoff => FileUtils.deleteQuietly(f)
        case _ =>
      }
    }
  }

  /** (directory name, build seconds) of every artifact served or built in
    * this JVM, in name order.
    */
  def setupSeconds: Seq[(String, Double)] =
    registry.asScala.toSeq.flatMap { d =>
      scala.util.Try(Files.readString(new File(d, Marker).toPath).trim.toDouble)
        .toOption.map(d.getName -> _)
    }.sortBy(_._1)
}
