package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, countDistinct}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.streaming.Streams

/** The benchmark's JVM side. It calls only the engine's public surface
  * (registry query functions, the `_build:` warm hooks, `Caches.evict`
  * and the `Streams.*MaintainStream` wiring) and watches it from outside
  * through Spark's public listener APIs. Everything it measures goes to
  * `<out>/run.json`; `perfbench/run.py` turns that into metrics.
  *
  * Arguments are `--name value` pairs: `--mode queries|stream`, `--data`,
  * `--out`, `--seconds`, `--rounds`, `--trace 0|1`, `--cores`, `--setups`, and
  * `--builds`/`--keys` (queries) or `--replay`/`--maintainers` (stream).
  */
object Harness {
  type Rec = java.util.LinkedHashMap[String, Any]
  def rec(kv: (String, Any)*): Rec = {
    val m = new Rec()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** The `_build:` warm hooks the workloads call, by the name
    * `graft.Bench` gives them.
    */
  val builds: Map[String, (SparkSession, String) => Unit] = Map(
    "gtrade" -> graft.sources.GTrade.warm _,
    "graphx" -> graft.queries.IterQueries.warmGraphX _,
    "cc" -> graft.queries.IterQueries.warmCc _,
    "zipf" -> graft.queries.UserGraphQueries.warmZipf _)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val out = a("out")
    val data = a("data")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores")
    new File(out).mkdirs()
    val probe = new Probe(trace)

    // ── set-up, repeated; the last session is the one measured ────────
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until a("setups").toInt) {
      if (spark != null) { spark.stop(); System.gc() }
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      spark = session(cores)
      // JIT, codegen and shuffle warm-up on synthetic data (touches no
      // benchmark table), then the input tables' plan objects.
      spark.range(1000000L).selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k").count().collect()
      graft.sources.Tables.names.foreach(t =>
        graft.sources.Tables(spark, data, t).schema)
      val s = (System.nanoTime() - t0) / 1e9
      setups += (if (i == 0) s + (w0 - jvmStartMs) / 1e3 else s)
    }
    probe.attach(spark)

    val ops = new java.util.ArrayList[Rec]()
    val rounds = new java.util.ArrayList[Rec]()
    val measureStart = System.nanoTime()
    var round = 0
    val checkDir = s"$out/check"
    val lastOutputs = mutable.LinkedHashMap.empty[String, () => DataFrame]
    val mode = a("mode")
    def elapsed = (System.nanoTime() - measureStart) / 1e9

    // Whole rounds of the same operations until `seconds` have passed,
    // and at least `--rounds` of them: the metrics come from the first
    // `--rounds` rounds of every run, the first of which runs on a cold
    // JIT.
    val minRounds = a("rounds").toInt
    while (round < minRounds || elapsed < seconds) {
      graft.Caches.evict(spark)
      val r0 = System.nanoTime()
      val rw0 = System.currentTimeMillis()
      if (mode == "queries")
        queryRound(spark, a, data, round, ops, probe, lastOutputs)
      else
        streamRound(spark, a, data, s"$out/ckpt", round, ops, probe,
          lastOutputs)
      val wall = (System.nanoTime() - r0) / 1e9
      val rw1 = System.currentTimeMillis()
      probe.drain()
      // Storage still held at the round's end: memoized builds and
      // maintainer state. Spark keeps the last query's plan, and so its
      // pins, reachable until the next query runs; a trivial query and
      // then a GC let its cleaner drop pins nothing else references,
      // which otherwise linger for a time set by the collector and by
      // which key ran last.
      spark.range(1).collect()
      System.gc()
      Thread.sleep(300)
      val storage = spark.sparkContext.getRDDStorageInfo
      rounds.add(rec("round" -> round, "start_ms" -> rw0, "end_ms" -> rw1,
        "wall_s" -> wall, "storage_mb" -> storage.map(_.memSize).sum / 1e6,
        "partial_rdds" -> storage.count(i =>
          i.numCachedPartitions > 0 && i.numCachedPartitions < i.numPartitions)))
      round += 1
    }

    // ── untimed: dump the last round's results for the oracle check ────
    val oracle = graft.SparkEntry.oracleSql
    val oracles = rec()
    lastOutputs.foreach { case (name, df) =>
      try {
        df().coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
        val key = if (mode == "queries") name else twin(name)
        oracle.get(key).foreach(sql => oracles.put(name, sql))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] dump $name failed: $e")
      }
    }
    new File(checkDir).mkdirs()
    Files.write(Paths.get(s"$checkDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsBytes(oracles))

    probe.drain()
    val res = rec("setups_s" -> setups.asJava, "rounds" -> rounds,
      "ops" -> ops, "cores" -> cores.toInt, "batches" -> probe.batchRecords,
      "tasks" -> probe.taskRecords)
    if (trace) probe.spans(res)
    Files.write(Paths.get(s"$out/run.json"),
      new ObjectMapper().writeValueAsBytes(res))
    graft.Caches.evict(spark)
    spark.stop()
  }

  def session(cores: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One op: `body` returns the phase split (construct, action) in ns. */
  def timedOp(ops: java.util.ArrayList[Rec], probe: Probe, round: Int,
      kind: String, name: String)(body: => (Long, Long)): Unit = {
    val c0 = probe.codegen()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = rec("round" -> round, "kind" -> kind, "name" -> name,
      "start_ms" -> w0)
    try {
      val (construct, action) = body
      r.put("construct_s", construct / 1e9)
      r.put("action_s", action / 1e9)
      r.put("ok", true)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        r.put("ok", false)
        r.put("error", String.valueOf(e).take(300))
    }
    r.put("wall_s", (System.nanoTime() - t0) / 1e9)
    r.put("end_ms", System.currentTimeMillis())
    val c1 = probe.codegen()
    r.put("codegen_compiles", c1._1 - c0._1)
    r.put("codegen_s", (c1._2 - c0._2) / 1e9)
    ops.add(r)
  }

  def queryRound(spark: SparkSession, a: Map[String, String], data: String,
      round: Int, ops: java.util.ArrayList[Rec], probe: Probe,
      lastOutputs: mutable.LinkedHashMap[String, () => DataFrame]): Unit = {
    def names(k: String) = a.getOrElse(k, "").split(",").filter(_.nonEmpty)
    names("builds").foreach { b =>
      timedOp(ops, probe, round, "build", b) {
        val t0 = System.nanoTime()
        builds(b)(spark, data)
        (System.nanoTime() - t0, 0L)
      }
    }
    val queries = graft.SparkEntry.queries
    rotated(names("keys"), round).foreach { k =>
      timedOp(ops, probe, round, "key", k) {
        val t0 = System.nanoTime()
        val df = queries(k)(spark, data)
        val t1 = System.nanoTime()
        // the full result: every column and the final ordering
        val rows = df.collect()
        val t2 = System.nanoTime()
        val schema = df.schema
        lastOutputs(k) = () => spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
        (t1 - t0, t2 - t1)
      }
    }
  }

  /** Round r runs the operations rotated by r places, so that across the
    * rounds of one run each operation also runs in other positions (the
    * first call after the builds is slower); the seed sets round 0's
    * order.
    */
  def rotated(xs: Array[String], round: Int): Array[String] = {
    val k = round % xs.length
    xs.drop(k) ++ xs.take(k)
  }

  /** The registry key whose oracle checks a maintainer's final state. */
  val twin: Map[String, String] = Map(
    "hll" -> "stream_distinct_hll", "hist" -> "stream_value_quantiles",
    "cms" -> "stream_heavy_hitters", "bitmap" -> "stream_bitmap_distinct",
    "asof" -> "stream_asof")

  def streamRound(spark: SparkSession, a: Map[String, String], data: String,
      ckpt: String, round: Int, ops: java.util.ArrayList[Rec], probe: Probe,
      lastOutputs: mutable.LinkedHashMap[String, () => DataFrame]): Unit = {
    val replay = a("replay")
    val schema = spark.read.parquet(replay).schema
    rotated(a("maintainers").split(","), round).foreach { name =>
      val source = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(replay)
      val events = graft.sources.Tables(spark, data, "events")
      val (writer, view): (org.apache.spark.sql.streaming.DataStreamWriter[Row],
          () => DataFrame) = name match {
        case "hll" =>
          val m = new Streams.HllMaintainer(spark)
          (Streams.hllMaintainStream(source, m), () => m.estimate
            .join(events.groupBy(col("event_type"))
              .agg(countDistinct(col("user_id")).as("n_users")),
              Seq("event_type"))
            .orderBy(col("event_type"), col("bucket")))
        case "hist" =>
          val m = new Streams.ValueHistMaintainer(spark)
          (Streams.valueHistMaintainStream(source, m), () => m.quantiles)
        case "cms" =>
          val m = new Streams.CmsMaintainer(spark)
          (Streams.cmsMaintainStream(source, m), () => m.verdict)
        case "bitmap" =>
          val m = new Streams.BitmapMaintainer(spark)
          (Streams.bitmapMaintainStream(source, m), () => m.verdict(events))
        case "asof" =>
          val m = new Streams.AsofMaintainer(spark)
          (Streams.asofMaintainStream(source, m), () => m.current)
      }
      val dir = s"$ckpt/r$round-$name"
      probe.streamName = name
      probe.streamRound = round
      timedOp(ops, probe, round, "stream", name) {
        val t0 = System.nanoTime()
        val q = writer.option("checkpointLocation", dir)
          .queryName(s"$name-r$round").start()
        try q.processAllAvailable()
        finally q.stop()
        q.exception.foreach(e => throw e)
        (0L, System.nanoTime() - t0)
      }
      lastOutputs(name) = view
      deleteTree(new File(dir))
    }
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Spark-side observations. Untraced it keeps only what the end-to-end
  * metrics need (task CPU, micro-batch progress); traced it also keeps
  * job, stage and query-planning spans for the layer table.
  */
final class Probe(trace: Boolean) {
  import Harness.{Rec, rec}
  @volatile var streamName: String = ""
  @volatile var streamRound: Int = 0
  private val tasks = new ConcurrentLinkedQueue[Array[Long]]()
  private val started = new AtomicLong(0L)
  private val ended = new AtomicLong(0L)
  private val jobs = new ConcurrentLinkedQueue[Rec]()
  private val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, Rec]()
  private val stages = new ConcurrentLinkedQueue[Rec]()
  private val stageAcc =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()
  private val plans = new ConcurrentLinkedQueue[Rec]()
  private val batches = new ConcurrentLinkedQueue[Rec]()

  /** (compiles, compile ns) so far, read from Spark's codegen metrics. */
  def codegen(): (Long, Long) =
    if (trace) (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)
    else (0L, 0L)

  /** Wait until every task that started has reported its end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (started.get() != ended.get() && System.nanoTime() < deadline)
      Thread.sleep(5)
    Thread.sleep(50)
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        started.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          tasks.add(Array(e.taskInfo.finishTime, m.executorCpuTime))
          if (trace) {
            val acc = stageAcc.computeIfAbsent((e.stageId, e.stageAttemptId),
              _ => new Array[Long](9))
            acc.synchronized {
              acc(0) += m.executorRunTime
              acc(1) += m.executorCpuTime
              acc(2) += m.jvmGCTime
              acc(3) += m.shuffleWriteMetrics.bytesWritten
              acc(4) += m.shuffleReadMetrics.totalBytesRead
              acc(5) += m.shuffleReadMetrics.fetchWaitTime
              acc(6) += m.memoryBytesSpilled + m.diskBytesSpilled
              acc(7) += m.inputMetrics.bytesRead
              acc(8) += 1
            }
          }
        }
        ended.incrementAndGet()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (trace) {
          val r = rec("job" -> e.jobId, "start_ms" -> e.time,
            "stage_ids" -> e.stageIds.asJava)
          jobStages.put(e.jobId, r)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (trace) Option(jobStages.remove(e.jobId)).foreach { r =>
          r.put("end_ms", e.time)
          jobs.add(r)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (trace) {
          val i = e.stageInfo
          stages.add(rec("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
            "start_ms" -> i.submissionTime.getOrElse(-1L),
            "end_ms" -> i.completionTime.getOrElse(-1L),
            "tasks" -> i.numTasks,
            "pinned_rdds" -> i.rddInfos.filter(_.storageLevel.isValid)
              .map(_.id).asJava))
        }
    })
    if (trace) s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        if (ph.nonEmpty) plans.add(rec(
          "start_ms" -> ph.values.map(_.startTimeMs).min,
          "plan_ms" -> ph.values.map(_.durationMs).sum))
      }
    })
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
          : Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          batches.add(rec("maintainer" -> streamName, "round" -> streamRound,
            "batch" -> p.batchId, "rows" -> p.numInputRows,
            "end_ms" -> System.currentTimeMillis(),
            "duration_ms" -> d.toMap.asJava))
        }
      }
    })
  }

  /** Add the recorded spans to the run record (traced runs only). */
  def spans(res: Rec): Unit = {
    val st = new java.util.ArrayList[Rec]()
    stages.asScala.foreach { r =>
      val key = (r.get("stage").asInstanceOf[Int],
        r.get("attempt").asInstanceOf[Int])
      val acc = Option(stageAcc.get(key)).getOrElse(new Array[Long](9))
      Seq("run_ms", "cpu_ns", "gc_ms", "shuffle_write_b", "shuffle_read_b",
        "fetch_wait_ms", "spill_b", "input_b", "task_ends").zip(acc)
        .foreach { case (k, v) => r.put(k, v) }
      st.add(r)
    }
    res.put("jobs", new java.util.ArrayList[Rec](jobs))
    res.put("stages", st)
    res.put("plans", new java.util.ArrayList[Rec](plans))
  }

  def batchRecords: java.util.List[Rec] = new java.util.ArrayList[Rec](batches)
  /** (finish ms, executor CPU ns) of every task, for per-call CPU. */
  def taskRecords: java.util.List[Array[Long]] =
    new java.util.ArrayList[Array[Long]](tasks)
}
