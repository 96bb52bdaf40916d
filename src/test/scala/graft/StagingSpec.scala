package graft

import java.io.File

import org.apache.commons.io.FileUtils

import graft.core.Staging
import graft.streaming.EventStreams

/** The staged sites beyond plain frames: stream results materialize
  * straight into the published directory, a source keeps the mtimes it
  * was stamped with, and Bench's setup map sees every kind of site.
  */
class StagingSpec extends SparkTestBase {

  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private def graftEntries: Set[String] =
    tmp.list().filter(_.startsWith("graft_")).toSet

  test("a staged stream result leaves exactly its published directory " +
    "and no sink directory behind") {
    val src = graft.queries.StreamingQueries.stagedEventStreamSrc(spark, sf)
    val name = s"spec_stream_${System.nanoTime()}"
    val before = graftEntries
    val out = SparkEntry.stagedStream(spark, sf, name) { out =>
      val stream = EventStreams.readEventStream(
        spark, src.getPath, spark.read.parquet(src.getPath).schema)
      EventStreams.withShufflePartitions(spark, 4) {
        EventStreams.materializeToParquet(spark,
          EventStreams.windowedCounts(stream), out)
      }
    }
    val dest = Staging.dirFor(sf, "events", name)
    try {
      assert(out.count() > 0)
      val added = graftEntries -- before
      assert(added === Set(dest.getName))
      assert(!added.exists(_.matches("graft_.*_out.*")))
    } finally FileUtils.deleteQuietly(dest)
  }

  test("a staged source (q64_src) keeps its ascending part mtimes after " +
    "the publishing rename") {
    val dest = Staging.dirFor(sf, "events", "q64_src")
    // force the build path: stamp in tmp, then rename
    FileUtils.deleteQuietly(dest)
    val src = graft.queries.StreamingQueries.stagedEventStreamSrc(spark, sf)
    assert(src === dest)
    val mtimes = src.listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).map(_.lastModified()).toSeq
    assert(mtimes.size >= 2, s"expected several range files: $mtimes")
    assert(mtimes.sliding(2).forall { case Seq(a, b) => a < b },
      s"part mtimes not ascending in name order: $mtimes")
  }

  test("the setup map lists frames, the codebook, sources and stream " +
    "results served or built in this session") {
    Seq("q86_pagerank", "q85_pq_search", "q64_stream_materialized")
      .foreach(q => SparkEntry.queries(q)(spark, sf).count())
    val setup = Staging.setupSeconds.toMap
    Seq("events" -> "coeng", "embeddings" -> "pqcb_8_16_5",
      "events" -> "q64_src", "events" -> "q64_result").foreach {
      case (table, name) =>
        val d = Staging.dirFor(sf, table, name).getName
        assert(setup.get(d).exists(_ >= 0.0), s"$d missing from $setup")
    }
  }
}
