package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.core.Staging

/** The streaming family: real Structured Streaming runs over a file-stream
  * copy of the events, through [[graft.streaming.EventStreams]], each
  * staged once per events snapshot and code build
  * ([[graft.SparkEntry.stagedStream]]).
  */
object StreamingQueries {

  val all: Seq[Query] = Seq(
    // the one seam batch-parity can't cover: the same windowedCounts
    // transform run as a REAL stream (file source, micro-batch per file,
    // incremental state) materialized via the foreachBatch parquet sink,
    // then hash-checked against the batch oracle
    Query("q64_stream_materialized", (s, dir) => {
      // stage the batch table as a DIRECTORY of time-ranged files (the
      // file-stream source ingests directories, one file per
      // micro-batch — the realistic ordered-ingestion shape), run the
      // REAL stream through it once, and publish the streamed output
      // via [[stagedStream]] — later calls read the committed sink, the
      // always-on-query semantics a production stream has
      stagedStream(s, dir, "q64_result") { out =>
        val src = stagedEventStreamSrc(s, dir)
        val stream = streaming.EventStreams.readEventStream(
          s, src.toString, s.read.parquet(src.toString).schema)
        // ~3600 (window, type) keys of state: 8 state partitions, not
        // 32 (see withShufflePartitions — 4× fewer store commits)
        streaming.EventStreams.withShufflePartitions(s, 8) {
          streaming.EventStreams.materializeToParquet(s,
            streaming.EventStreams.windowedCounts(stream), out)
        }
      }.orderBy(col("window_start"), col("event_type"))
    },
      // q21's hourly-window aggregate extended by event_type — the batch
      // semantics the materialized STREAM result must reproduce exactly
      Oracle("""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS VARCHAR)
        |         AS window_start,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),

    // q37's SESSION windows through the same real-stream seam q64
    // proves for tumbling windows (file source, micro-batch per file,
    // state-store session merging), hash-checked against the identical
    // batch oracle. Runs APPEND mode — the only shape whose state stays
    // bounded (open sessions only) on an unbounded stream; complete
    // mode re-emits every session ever seen per trigger — with a
    // far-future SENTINEL event staged as the last-ingested file: the
    // watermark passes
    // every real session, append emits each exactly once, and the
    // sentinel's synthetic user is filtered from the result. File
    // mtimes are set explicitly (range files in ts order, sentinel
    // last) so the file source's mtime-ordered ingestion is
    // deterministic rather than an artifact of write timing.
    Query("q178_stream_session_materialized", (s, dir) => {
      stagedStream(s, dir, "q178_result") { out =>
        val src = Staging.publish(dir, "events", "q178_src") { tmp =>
          t(s, dir, "events")
            .select(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value"))
            .repartitionByRange(4, col("ts"))
            .write.parquet(tmp.getPath)
          val ranged = parts(tmp).sortBy(_.getName)
          s.read.parquet(tmp.getPath).orderBy(col("ts").desc).limit(1)
            .select(col("event_id"),
              (col("ts") + expr("INTERVAL 10 DAYS")).as("ts"),
              lit(-1L).as("user_id"), col("event_type"), col("value"))
            .coalesce(1).write.mode("append").parquet(tmp.getPath)
          stampAscending(ranged ++ parts(tmp).filterNot(ranged.contains))
        }
        val stream = streaming.EventStreams.readEventStream(
          s, src.toString, s.read.parquet(src.toString).schema)
        val sessions = stream.withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("sum_value"))
          .select(
            unix_micros(col("session_window.start")).as("session_start"),
            col("user_id"), col("n_events"), col("sum_value"))
        // session state is |open users|-bounded: 8 state partitions
        streaming.EventStreams.withShufflePartitions(s, 8) {
          streaming.EventStreams.materializeAppendToParquet(s, sessions, out)
        }
      }.filter(col("user_id") =!= -1L)
        .orderBy(col("user_id"), col("session_start"))
    },
      // identical oracle to q37 — the STREAMING session result (append
      // mode + sentinel watermark advance) must reproduce the batch
      // session semantics exactly; the sentinel's synthetic user never
      // appears (filtered Spark-side, absent from the oracle's table)
      Oracle("""WITH x AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts,
        |           value FROM events),
        |y AS (SELECT user_id, event_id, uts, value,
        |        CASE WHEN lag(uts) OVER w IS NULL
        |               OR uts - lag(uts) OVER w >= INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM x WINDOW w AS (PARTITION BY user_id
        |        ORDER BY uts, event_id)),
        |z AS (SELECT user_id, uts, value,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY uts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM y)
        |SELECT epoch_us(min(uts)) AS session_start, user_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM z GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),

    // q94's event-time-bounded stream-stream join run as a REAL stream
    // (file source, micro-batch per file) and materialized via the
    // append-mode foreachBatch parquet sink — the third real-stream
    // materialization next to q64 (tumbling windows) and q178
    // (sessions). Inner joins emit on MATCH, not on watermark, so no
    // sentinel is needed: with ts-range-ordered ingestion and the
    // 1-hour watermark delay, both sides' state provably survives any
    // cross-batch pair (click_ts ∈ [p_ts, p_ts+10m) arrives in the
    // same or next file; eviction needs watermark > p_ts + 10m, i.e.
    // an event 1h past the boundary). Shares q64's staged source
    Query("q200_stream_join_materialized", (s, dir) => {
      stagedStream(s, dir, "q200_result") { out =>
        val src = stagedEventStreamSrc(s, dir)
        val stream = streaming.EventStreams.readEventStream(
          s, src.toString, s.read.parquet(src.toString).schema)
        val pairs = streaming.EventStreams.purchaseClickPairs(stream,
          gap = "10 minutes")
        streaming.EventStreams.withShufflePartitions(s, 8) {
          streaming.EventStreams.materializeAppendToParquet(s, pairs, out)
        }
      }.orderBy(col("user_id"), col("event_id"), col("click_id"))
    },
      // identical pair semantics to q94 — the STREAMING result (append
      // mode, match-time emission) must reproduce the batch join exactly
      Oracle("""SELECT p.user_id, p.event_id, c.event_id AS click_id
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |  AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 10 MINUTE
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |ORDER BY p.user_id, p.event_id, click_id""".stripMargin)),

    // dropDuplicatesWithinWatermark through the REAL stream seam: the
    // staged source self-unioned (every micro-batch delivers each row
    // twice — the at-least-once-delivery shape exactly-once sinks
    // must collapse), watermarked dedup state keyed on event_id,
    // APPEND materialization hash-checked against plain batch
    // distinct. Self-union reads ONE file source (both branches share
    // offsets), so the duplicate pairs land in the same trigger and
    // no cross-source skew can outrun the 1 h watermark
    Query("q221_stream_dedup_materialized", (s, dir) => {
      stagedStream(s, dir, "q221_result") { out =>
        val src = stagedEventStreamSrc(s, dir)
        val st = streaming.EventStreams.readEventStream(
          s, src.toString, s.read.parquet(src.toString).schema)
        val deduped = st.unionByName(st)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("user_id"), col("event_type"))
        streaming.EventStreams.withShufflePartitions(s, 8) {
          streaming.EventStreams.materializeAppendToParquet(s, deduped, out)
        }
      }.orderBy(col("event_id"))
    },
      // the streaming dedup must collapse the doubled delivery back to
      // exactly the batch-distinct relation
      Oracle("""SELECT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin)),

    // FIFTH materialized real stream: stream-static enrichment — the
    // production feature-lookup shape (live events ⋈ precomputed user
    // profile). The static side is a fingerprint-STAGED per-user spend
    // profile (whale = top-decile historical purchase value on the
    // 4dp-rounded spend, q130's md5 variant) broadcast under the
    // stream; the join is STATELESS, so append mode needs no watermark
    // and every micro-batch emits exactly its enriched rows —
    // hash-checked against the identical batch join
    Query("q248_stream_static_enrich", (s, dir) => {
      stagedStream(s, dir, "q248_result") { out =>
        val profile = userProfile(s, dir)
        val src = stagedEventStreamSrc(s, dir)
        val st = streaming.EventStreams.readEventStream(
          s, src.toString, s.read.parquet(src.toString).schema)
        val enriched = st.filter(col("event_type") === "purchase")
          .join(broadcast(profile), Seq("user_id"))
          .select(col("event_id"), col("user_id"), col("value"),
            col("is_whale"), col("is_a"))
        streaming.EventStreams.materializeAppendToParquet(s, enriched, out)
      }.orderBy(col("event_id"))
    },
      // the stream's stateless enrichment ≡ this batch join
      Oracle("""WITH spend AS (SELECT user_id,
        |    round(sum(value) + 1e-9, 4) AS s
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |p90 AS (SELECT round(quantile_cont(s, 0.9) + 1e-9, 4) AS p
        |  FROM spend),
        |prof AS (SELECT user_id, s >= p AS is_whale,
        |    (CAST(CAST(concat('0x', substr(
        |        md5(concat('42:', CAST(user_id AS VARCHAR))), 1, 13))
        |      AS BIGINT) AS DOUBLE) / 4503599627370496.0 < 0.5) AS is_a
        |  FROM spend CROSS JOIN p90)
        |SELECT e.event_id, e.user_id, e.value, pr.is_whale, pr.is_a
        |FROM events e JOIN prof pr ON e.user_id = pr.user_id
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin)),

    // the stream-stream join's shared transform in batch mode (same
    // code path StreamingSpec runs as a real watermarked stream) —
    // gives the event-time-bounded join a driver-checked oracle row
    Query("q94_stream_join_pairs", (s, dir) =>
      streaming.EventStreams.purchaseClickPairs(t(s, dir, "events"),
          gap = "10 minutes")
        .orderBy(col("user_id"), col("event_id"), col("click_id")),
      // same half-open event-time bound [ts, ts + 10 min)
      Oracle("""SELECT p.user_id, p.event_id, c.event_id AS click_id
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |  AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 10 MINUTE
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |ORDER BY p.user_id, p.event_id, click_id""".stripMargin))
  )

  /** ts-range-partitioned staged copy of events for the file-stream
    * sources (q64/q200/q221/q248), with EXPLICIT ascending mtimes. The
    * file source ingests in modification-time order, but parallel part
    * writes land with ONE shared mtime, leaving the batch order to
    * directory-listing order — nondeterministic. A complete-mode
    * aggregation (q64) is order-immune (no watermark eviction in
    * complete mode), but a stream-stream join drops a whole
    * out-of-order file as late once the watermark has passed it
    * (observed: listing order file2,0,3,1 → every file-1 pair lost).
    * repartitionByRange yields part-0000k names in ts order, so name
    * order IS event-time order; stamping mtimes 1 s apart pins the
    * realistic ordered-ingestion shape for every consumer. The stamps
    * go on in the tmp directory; the publishing rename keeps them.
    */
  private[graft] def stagedEventStreamSrc(s: SparkSession, dir: String)
  : java.io.File =
    Staging.publish(dir, "events", "q64_src") { tmp =>
      t(s, dir, "events").repartitionByRange(4, col("ts"))
        .write.parquet(tmp.getPath)
      stampAscending(parts(tmp).sortBy(_.getName))
    }

  private def parts(d: java.io.File): Seq[java.io.File] =
    d.listFiles().filter(_.getName.startsWith("part-")).toSeq

  /** Ingestion order for a file-stream source: mtimes 1 s apart, in
    * the given order, ending in the past.
    */
  private def stampAscending(files: Seq[java.io.File]): Unit = {
    val t0 = System.currentTimeMillis() - 600000
    files.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 1000L) }
  }
}
