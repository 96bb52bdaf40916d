package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import graft.tools.Cli

/** The query tool's commands, run through `Cli.run` on the shared test
  * session (which `run` never stops).
  */
class CliSpec extends SparkTestBase {

  private def out(args: String*): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val rc = Console.withOut(buf)(Cli.run(spark, args.toArray))
    (rc, buf.toString("UTF-8"))
  }

  test("rows prints the row count of each named query") {
    val (rc, txt) = out("rows", sf, "q02,q17_except")
    val expect = Seq("q02_avg_rating_by_item", "q17_except").map { q =>
      s"[rows] $q ${SparkEntry.queries(q)(spark, sf).count()}"
    }
    assert(rc === 0)
    expect.foreach(l => assert(txt.linesIterator.contains(l), txt))
  }

  test("explain writes one qNN.txt per query into the given directory") {
    val dir = Files.createTempDirectory("graft-cli-explain")
    try {
      val (rc, _) = out("explain", sf, "q17", dir.toString)
      assert(rc === 0)
      assert(dir.toFile.list().toSeq === Seq("q17.txt"))
      assert(Files.readString(dir.resolve("q17.txt")).contains("== Physical Plan =="))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("explain gives identical text for two builds of one query in one " +
    "session") {
    val (rc1, first) = out("explain", sf, "q17")
    val (rc2, second) = out("explain", sf, "q17")
    assert(rc1 === 0 && rc2 === 0)
    assert(first.contains("Exchange"), first)
    assert(first === second)
  }

  test("time with one pass prints the minimum per query") {
    val (rc, txt) = out("time", sf, "q02", "1")
    assert(rc === 0)
    assert(txt.linesIterator.exists(l =>
      l.startsWith("[time] q02_avg_rating_by_item min=") &&
        l.contains(" over 1 passes")), txt)
  }

  test("an unknown name fails before any query runs") {
    val buf = new ByteArrayOutputStream()
    intercept[IllegalArgumentException](Console.withOut(buf)(
      Cli.run(spark, Array("rows", sf, "q02,q17_exept"))))
    assert(buf.size() === 0)
  }
}
