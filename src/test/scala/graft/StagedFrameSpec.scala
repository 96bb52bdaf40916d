package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.core.Staging

/** The publish protocol of the staged-artifact layer, pinned through its
  * frame helper (the pair lists, signature frames and profiles use it;
  * streams, sources, bucketed tables and the codebook share the same
  * primitive):
  *
  *  - a COMMITTED artifact (`_SETUP_SECONDS` present) is served without
  *    re-invoking the build;
  *  - a TORN artifact (directory present, marker missing) is rebuilt,
  *    never read;
  *  - a build collects old entries of the same site that this binary
  *    cannot serve, keeps young ones, and registers what it built.
  *
  * Each test stages a synthetic site name over the tiny `region` table,
  * so no production staging is touched.
  */
class StagedFrameSpec extends SparkTestBase {

  private def stage(name: String)(onBuild: => Unit) =
    Staging.frame(spark, sf, "region", name) {
      onBuild
      graft.sources.Tables.load(spark, sf, "region").select(col("r_regionkey"))
    }

  test("committed staged artifact is served without re-running the build") {
    val name = "spec_commit_check"
    assert(stage(name)(()).count() > 0)
    assert(new File(Staging.dirFor(sf, "region", name), Staging.Marker).isFile)
    var rebuilt = false
    assert(stage(name) { rebuilt = true }.count() > 0)
    assert(!rebuilt, "build closure re-ran despite a committed artifact")
  }

  test("a frame builds at most once per key and serves a parquet scan after") {
    var builds = 0
    def call() = stage("spec_stage_probe")(builds += 1)
    assert(call().count() === 5L)
    assert(call().count() === 5L)
    assert(builds <= 1, s"builder ran $builds times")
    assert(call().queryExecution.executedPlan.toString.contains("FileScan parquet"))
  }

  test("torn staged artifact (no _SETUP_SECONDS) is rebuilt, never read") {
    val name = "spec_torn_check"
    stage(name)(()).count()
    val dest = Staging.dirFor(sf, "region", name)
    // the crash-mid-publish state: contents present with the commit
    // marker missing, plus garbage a reader would choke on
    assert(new File(dest, Staging.Marker).delete())
    java.nio.file.Files.writeString(
      new File(dest, "part-garbage.parquet").toPath, "not parquet")
    var rebuilt = false
    val again = stage(name) { rebuilt = true }
    assert(rebuilt, "torn artifact was served instead of rebuilt")
    assert(again.count() > 0)
    assert(new File(dest, Staging.Marker).isFile,
      "rebuild did not republish a committed artifact")
    assert(!new File(dest, "part-garbage.parquet").exists(),
      "garbage from the torn publish survived the rebuild")
  }

  test("a build collects old entries under another code fingerprint and " +
    "orphaned tmp copies, keeps young ones, and registers its directory") {
    val name = "spec_gc_check"
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val dest = Staging.dirFor(sf, "region", name)
    // GC runs on a build only: make this call a miss
    FileUtils.deleteQuietly(dest)
    def entry(n: String, ageHours: Int): File = {
      val d = new File(tmp, n)
      d.mkdirs()
      java.nio.file.Files.writeString(d.toPath.resolve(Staging.Marker), "9.999\n")
      d.setLastModified(System.currentTimeMillis() - ageHours * 3600L * 1000)
      d
    }
    val data = Staging.dataFingerprint(sf, "region")
    // this binary can never serve these again
    val stale = entry(Staging.key(name, data, "deadbeef"), ageHours = 7)
    val orphan = entry(dest.getName + ".tmp.0badf00d", ageHours = 7)
    // possibly a concurrent JVM's live staging: must survive
    val young = entry(Staging.key(name, data, "0badc0de"), ageHours = 1)
    // another site whose name extends this one: never this site's entry
    val other = entry(Staging.key(name + "_x", data, "deadbeef"), ageHours = 7)
    try {
      stage(name)(()).count()
      assert(!stale.exists(), "superseded-fingerprint staging survived a build")
      assert(!orphan.exists(), "orphaned tmp copy survived a build")
      assert(young.exists(), "a young superseded dir was collected — a " +
        "concurrent JVM's live staging would be deleted mid-read")
      assert(other.exists(), "another site's staging was collected")
      assert(Staging.setupSeconds.map(_._1).contains(dest.getName),
        s"built dir not registered: ${Staging.setupSeconds}")
    } finally Seq(young, other).foreach(FileUtils.deleteQuietly)
  }
}
