package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Closed-loop driver for the benchmark: one driver thread runs a list of
  * engine queries pass after pass and records raw measurements; run.py
  * turns them into metrics.
  *
  * The engine is driven only through its public entry point
  * `graft.SparkEntry.queries(name)(spark, dir)` and observed only through
  * Spark's listener APIs. Each execution is: build the DataFrame
  * (`entry.build`), force its physical plan (`catalyst.plan`), then write
  * it to the `noop` sink (`action`), which materializes every row and
  * column. An order-insensitive content hash rides along the action as an
  * observed metric, so each execution is checked without a second job.
  *
  * Arguments (key=value): mode=setup|run corpus=DIR out=FILE cores=N
  * queries=a,b,c seconds=S minPasses=N trace=0|1 stagingDir=DIR
  * warehouseDir=DIR (stagingDir must be the JVM's java.io.tmpdir, where the
  * engine stages its artifacts)
  *
  * mode=setup only builds the session and checks the inputs; both modes
  * print `READY <epoch ms>` when the session is ready. A run makes a first
  * pass, one unmeasured warm-up pass, then steady passes. With trace=1 the
  * steady passes alternate between traced and untraced, so the run also
  * measures its own tracing overhead.
  */
object Harness {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Local property carrying `pass:exec:phase:traced` to every job. */
  val TagKey = "perfbench.tag"

  // wall clock in epoch ms with sub-ms resolution, comparable to Spark's
  // event times
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + epochNs) / 1e6

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = osBean.getProcessCpuTime / 1e9
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val corpus = opt("corpus")
    val cores = opt("cores").toInt
    val missing = Tables.filterNot(t => new File(s"$corpus/$t.parquet").exists())
    require(missing.isEmpty, s"corpus $corpus lacks ${missing.mkString(", ")}")
    val spark = graft.core.GraftSession.tuned(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      shufflePartitions = cores
    ).config("spark.sql.warehouse.dir", opt("warehouseDir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec.sparkListener)
    spark.listenerManager.register(rec.qeListener)
    spark.streams.addListener(rec.streamListener)
    println(f"READY ${System.currentTimeMillis()}%d")
    try if (opt("mode") == "run") run(spark, rec, opt)
    finally spark.stop()
  }

  def run(spark: SparkSession, rec: Recorder, opt: Map[String, String]): Unit = {
    val corpus = opt("corpus")
    val names = opt("queries").split(",").toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val trace = opt("trace") == "1"
    val staging = Paths.get(opt("stagingDir"))
    val sc = spark.sparkContext
    val passes = ArrayBuffer.empty[Json.Obj]
    val execs = ArrayBuffer.empty[Json.Obj]

    def pass(idx: Int, kind: String, traced: Boolean): Unit = {
      if (kind != "first") { spark.catalog.clearCache(); System.gc() }
      val (c0, j0, g0) = (cpuS, jitS, gcS)
      val start = nowMs
      names.zipWithIndex.foreach { case (name, qi) =>
        execs += execute(spark, corpus, name, idx, qi, traced, staging)
      }
      val end = nowMs
      passes += Json.Obj("idx" -> idx, "kind" -> kind, "traced" -> traced,
        "start" -> start, "end" -> end, "cpu_s" -> (cpuS - c0),
        "jit_s" -> (jitS - j0), "gc_s" -> (gcS - g0))
    }

    pass(0, "first", trace)
    // the JIT is still compiling through the second pass over the same
    // queries, and how much varies from JVM to JVM: leave it unmeasured
    pass(1, "warmup", traced = false)
    val seconds = opt("seconds").toDouble
    val minPasses = opt("minPasses").toInt
    val t0 = nowMs
    var n = 0
    while (n < minPasses || (nowMs - t0) / 1e3 < seconds) {
      // a traced run alternates traced and untraced passes as T U U T ...,
      // so a trend biases neither side
      pass(n + 2, "steady", trace && (n % 4 == 0 || n % 4 == 3))
      n += 1
    }
    rec.drain()
    Json.write(Paths.get(opt("out")), Json.Obj(
      "cores" -> sc.defaultParallelism,
      "passes" -> passes.toSeq, "execs" -> execs.toSeq) ++ rec.dump)
  }

  /** One build → plan → action of `name`, timed on the driver thread. */
  def execute(spark: SparkSession, corpus: String, name: String,
              pass: Int, qi: Int, traced: Boolean, staging: Path): Json.Obj = {
    val sc = spark.sparkContext
    def tag(phase: String): Unit =
      sc.setLocalProperty(TagKey, s"$pass:$qi:$phase:${if (traced) 1 else 0}")
    val stagedBefore = if (traced) Staging.snapshot(staging) else Map.empty[String, Long]
    val c0 = cpuS
    val t0 = nowMs
    var (t1, t2) = (t0, t0)
    var result = Json.Obj("rows" -> -1L, "hash" -> "")
    var error = ""
    try {
      tag("build")
      val built = graft.SparkEntry.queries(name)(spark, corpus)
      t1 = nowMs
      tag("plan")
      val obs = Observation(s"chk_${pass}_$qi")
      val df = built.observe(obs, count(lit(1)).as("rows"),
        sum(rowHash(built).cast(DecimalType(38, 0))).as("hash"))
      df.queryExecution.executedPlan
      t2 = nowMs
      tag("action")
      df.write.format("noop").mode("overwrite").save()
      val row = Await.result(obs.future, 60.seconds)
      result = Json.Obj("rows" -> row.getLong(0),
        "hash" -> Option(row.get(1)).map(_.toString).getOrElse("0"))
    } catch {
      case e: Throwable =>
        error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] $name failed: $error")
    } finally sc.setLocalProperty(TagKey, null)
    val t3 = nowMs
    val cpu = cpuS - c0  // read before the staging census below
    val staged = if (traced) Staging.diff(stagedBefore, Staging.snapshot(staging))
      else (0L, 0L)
    if (t1 == t0) t1 = t3
    if (t2 == t0) t2 = t3
    Json.Obj("pass" -> pass, "q" -> name, "t0" -> t0, "t1" -> t1, "t2" -> t2,
      "t3" -> t3, "cpu_s" -> cpu, "error" -> error,
      "staged_new" -> staged._1, "staged_bytes" -> staged._2) ++ result
  }

  /** Order-insensitive per-row hash over every output column. Doubles are
    * rounded to 6 places (and -0.0 folded into 0.0) so that a different
    * summation order does not change the hash; types xxhash64 cannot take
    * directly are hashed through their JSON form.
    */
  def rowHash(df: DataFrame): Column = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
      case ArrayType(DoubleType | FloatType, _) =>
        transform(c, x => round(x.cast(DoubleType), 6) + lit(0.0))
      case _: MapType | _: StructType | ArrayType(_: StructType | _: MapType, _) =>
        to_json(c)
      case _ => c
    }
    xxhash64(df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType)): _*)
  }
}

/** Staged-artifact census: the engine's `graft_*` entries in the staging
  * dir and their bytes. */
object Staging {
  def snapshot(dir: Path): Map[String, Long] =
    Option(dir.toFile.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_"))
      .map(f => f.getName -> size(f)).toMap
  private def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length()
  def diff(before: Map[String, Long], after: Map[String, Long]): (Long, Long) =
    (after.keySet.diff(before.keySet).size.toLong,
      math.max(0L, after.values.sum - before.values.sum))
}

/** Raw event capture from Spark's listener buses. Job, stage and task
  * events are kept only for traced passes (the tag's last field); cached
  * block memory, planning phases and stream progress are always kept. The
  * buses call in from their own threads, so all state is guarded by the
  * Recorder's lock.
  */
class Recorder {
  import Json.Obj
  private val jobs = ArrayBuffer.empty[Obj]
  private val jobOpen = scala.collection.mutable.Map.empty[Int, (String, Long, String)]
  private val stageTag = scala.collection.mutable.Map.empty[Int, String]
  private val stageSubmit = scala.collection.mutable.Map.empty[Int, Long]
  private val stageAcc = scala.collection.mutable.Map.empty[Int, Array[Double]]
  private val stages = ArrayBuffer.empty[Obj]
  private val qes = ArrayBuffer.empty[Obj]
  private val batches = ArrayBuffer.empty[Obj]
  private val blocks = scala.collection.mutable.Map.empty[(Int, Int), Long]
  private var cachedBytes = 0L
  private val peaks = scala.collection.mutable.Map.empty[Int, Long]
  private var lastPass = 0
  private var started, ended = 0

  private val execSite = scala.collection.mutable.Map.empty[Long, String]

  /** The innermost engine or benchmark class on a long-form call site, as
    * `ext.Graph` for `graft.ext.Graph$.pagerank(Graph.scala:98)`, or
    * `harness` for this driver; empty when neither is on the stack. */
  private def module(callSite: String): String =
    callSite.split("\n").iterator.map { line =>
      val frame = line.trim.takeWhile(_ != '(')
      frame.take(math.max(0, frame.lastIndexOf('.'))).split('$')(0)
    }.find(c => c.startsWith("graft.") || c.startsWith("perfbench."))
      .map(c => if (c.startsWith("perfbench.")) "harness" else c.stripPrefix("graft."))
      .getOrElse("")

  private def locked[T](body: => T): T = synchronized(body)

  private def tracedTag(p: Properties): Option[String] =
    Option(p).flatMap(pp => Option(pp.getProperty(Harness.TagKey))).filter(_.endsWith(":1"))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      started += 1
      Option(e.properties).flatMap(p => Option(p.getProperty(Harness.TagKey)))
        .foreach(t => lastPass = t.takeWhile(_ != ':').toInt)
      tracedTag(e.properties).foreach { t =>
        // jobs that AQE submits from its own threads carry no engine frame;
        // they take the call site of the SQL execution they belong to
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(s => module(s.details))
          .filter(_.nonEmpty).orElse(Option(e.properties.getProperty("spark.sql.execution.id"))
            .flatMap(id => execSite.get(id.toLong))).getOrElse("")
        jobOpen(e.jobId) = (t, e.time, site)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      ended += 1
      jobOpen.remove(e.jobId).foreach { case (t, start, site) =>
        jobs += Obj("id" -> e.jobId, "tag" -> t, "start" -> start, "end" -> e.time,
          "site" -> site)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => locked {
        execSite(x.executionId) = module(x.details)
      }
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = locked {
      tracedTag(e.properties).foreach { t =>
        stageTag(e.stageInfo.stageId) = t
        stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(0L)
        stageAcc(e.stageInfo.stageId) = new Array[Double](9)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      stageAcc.get(e.stageId).foreach { a =>
        val m = e.taskMetrics
        a(0) += 1
        a(1) += math.max(0L, e.taskInfo.launchTime - stageSubmit(e.stageId))
        if (m != null) {
          a(2) += m.executorRunTime
          a(3) += m.executorCpuTime / 1e6
          a(4) += m.jvmGCTime
          a(5) += m.shuffleWriteMetrics.bytesWritten
          a(6) += m.shuffleReadMetrics.totalBytesRead
          a(7) += m.diskBytesSpilled
          a(8) = math.max(a(8), m.peakExecutionMemory.toDouble)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = locked {
      val id = e.stageInfo.stageId
      stageTag.remove(id).foreach { t =>
        val a = stageAcc.remove(id).get
        stageSubmit.remove(id)
        stages += Obj("id" -> id, "tag" -> t, "tasks" -> e.stageInfo.numTasks,
          "task_n" -> a(0), "wait_ms" -> a(1), "run_ms" -> a(2), "cpu_ms" -> a(3),
          "gc_ms" -> a(4), "shuffle_w" -> a(5), "shuffle_r" -> a(6),
          "spill" -> a(7), "peak_mem" -> a(8))
      }
    }
    // memory held by persisted frames: block updates add and drop cached
    // partitions; an unpersist drops the frame's blocks without updates
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = locked {
      e.blockUpdatedInfo.blockId match {
        case RDDBlockId(rdd, split) =>
          blocks.remove((rdd, split)).foreach(cachedBytes -= _)
          if (e.blockUpdatedInfo.memSize > 0) {
            blocks((rdd, split)) = e.blockUpdatedInfo.memSize
            cachedBytes += e.blockUpdatedInfo.memSize
          }
          // attributed to the pass of the latest job seen on the bus
          peaks(lastPass) = math.max(peaks.getOrElse(lastPass, 0L), cachedBytes)
        case _ =>
      }
    }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = locked {
      blocks.keys.filter(_._1 == e.rddId).toSeq.foreach(k => cachedBytes -= blocks.remove(k).get)
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
      val end = ph.values.map(_.endTimeMs).foldLeft(0L)(math.max)
      val scans = try cachedScans(qe.executedPlan) catch { case _: Throwable => 0 }
      locked { qes += Obj("plan_ms" -> planMs, "end" -> end, "cached_scans" -> scans) }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def cachedScans(p: SparkPlan): Int = {
    val self = if (p.nodeName.startsWith("InMemoryTableScan")) 1 else 0
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    self + kids.map(cachedScans).sum
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      locked {
        batches += Obj("ts" -> java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
          "batch_ms" -> e.progress.batchDuration)
      }
  }

  /** Wait until the listener buses have delivered every job's end. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    def done = locked { started == ended && stageTag.isEmpty }
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def dump: Obj = locked {
    Obj("jobs" -> jobs.toSeq, "stages" -> stages.toSeq, "qes" -> qes.toSeq,
      "batches" -> batches.toSeq,
      "storage" -> peaks.toSeq.sorted.map { case (p, b) => Obj("pass" -> p, "cached" -> b) })
  }
}

/** Minimal JSON writer for the raw record (numbers, strings, booleans,
  * nested objects and sequences). */
object Json {
  final case class Obj(fields: (String, Any)*) {
    def ++(o: Obj): Obj = Obj(fields ++ o.fields: _*)
  }
  def render(v: Any, sb: StringBuilder): Unit = v match {
    case Obj(fs @ _*) =>
      sb += '{'
      fs.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        render(k, sb); sb += ':'; render(x, sb)
      }
      sb += '}'
    case s: Seq[_] =>
      sb += '['
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; render(x, sb) }
      sb += ']'
    case s: String =>
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case b: Boolean => sb ++= b.toString
    case n: Number => sb ++= n.toString
    case null => sb ++= "null"
  }
  def write(path: Path, v: Any): Unit = {
    val sb = new StringBuilder
    render(v, sb)
    Files.writeString(path, sb.toString)
  }
}
