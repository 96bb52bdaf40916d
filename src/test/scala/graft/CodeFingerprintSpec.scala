package graft

import graft.core.Staging

/** Pins the staleness defense of the staging key's code fingerprint: the
  * digest covers every class file under `graft/` in SparkEntry's code
  * source, so an edit to any operator, stream transform or build closure
  * recompiles to different bytecode → a different fingerprint → a
  * different staging key → an honest rebuild instead of silently served
  * pre-change output.
  */
class CodeFingerprintSpec extends SparkTestBase {

  private def flipped(parts: Seq[(String, Array[Byte])], idx: Int) =
    parts.updated(idx, {
      val (n, b) = parts(idx)
      val c = b.clone(); c(c.length / 2) = (c(c.length / 2) ^ 0x01).toByte
      (n, c)
    })

  test("fingerprint parts are exactly the class files under graft/ in " +
    "SparkEntry's code source") {
    val root = java.nio.file.Paths.get(
      SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(java.nio.file.Files.isDirectory(root), s"$root is not a directory")
    val walk = java.nio.file.Files.walk(root.resolve("graft"))
    val expected =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".class"))
          .map(p => root.relativize(p).toString
            .replace(java.io.File.separatorChar, '/') ->
            java.nio.file.Files.readAllBytes(p).toSeq).toMap
      } finally walk.close()
    val parts = Staging.codeParts
    assert(parts.map(_._1) === parts.map(_._1).sorted)
    assert(parts.map(_._1).toSet === expected.keySet)
    parts.foreach { case (n, b) => assert(b.toSeq === expected(n), n) }
    Seq("graft/SparkEntry$.class", "graft/ext/Dedup$.class",
      "graft/streaming/EventStreams$.class", "graft/core/Staging$.class")
      .foreach(n => assert(expected.contains(n), n))
  }

  test("a jar code source gives the same parts as its classes directory; " +
    "any other source throws") {
    val root = java.nio.file.Paths.get(
      SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val dirParts = Staging.classFiles(root)
    val jar = java.nio.file.Files.createTempFile("graft-fp", ".jar")
    try {
      val out = new java.util.jar.JarOutputStream(
        java.nio.file.Files.newOutputStream(jar))
      try {
        // a non-class resource and a class outside graft/ are not parts
        (dirParts ++ Seq("graft/notes.txt" -> Array[Byte](1),
          "other/Foo.class" -> Array[Byte](2))).foreach { case (n, b) =>
          out.putNextEntry(new java.util.jar.JarEntry(n)); out.write(b)
          out.closeEntry()
        }
      } finally out.close()
      val jarParts = Staging.classFiles(jar)
      assert(jarParts.map(_._1) === dirParts.map(_._1))
      assert(Staging.digest(jarParts) === Staging.digest(dirParts))
    } finally java.nio.file.Files.deleteIfExists(jar)
    intercept[IllegalStateException](
      Staging.classFiles(root.resolve("no-such-code-source")))
  }

  test("an EventStreams-only bytecode change changes the fingerprint " +
    "(and so the staging key)") {
    val parts = Staging.codeParts
    val idx = parts.indexWhere(p =>
      p._1.startsWith("graft/streaming/") && p._2.nonEmpty)
    assert(idx >= 0)
    assert(Staging.digest(parts) != Staging.digest(flipped(parts, idx)))
  }

  test("an operator-only bytecode change (Dedup$) changes a frame " +
    "site's staging key") {
    val parts = Staging.codeParts
    val idx = parts.indexWhere(_._1 == "graft/ext/Dedup$.class")
    assert(idx >= 0, "Dedup$ is not in the fingerprint parts")
    val data = Staging.dataFingerprint(sf, "documents")
    val live = Staging.key("chainpairs", data, Staging.digest(parts))
    // the seam is the key the frame helper actually stages under
    assert(Staging.dirFor(sf, "documents", "chainpairs").getName === live)
    assert(Staging.key("chainpairs", data,
      Staging.digest(flipped(parts, idx))) !== live)
  }

  test("fingerprint is deterministic and sensitive to a class RENAME") {
    val parts = Staging.codeParts
    assert(Staging.digest(parts) == Staging.digest(parts))
    val renamed = parts.updated(0, ("renamed.class", parts(0)._2))
    assert(Staging.digest(parts) != Staging.digest(renamed))
  }
}
