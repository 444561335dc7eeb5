package cdcbench

import java.io.{BufferedWriter, File}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.management.GarbageCollectionNotificationInfo

import graft.cdc.Protocol
import graft.cdc.source.{CdcPartitionReader, SocketTransport}
import graft.sources.ManifestSink
import graft.streaming.CdcSnapshotStream
import graft.streaming.CdcSnapshotStream.{Change, Snapshot}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.storage.StorageLevel

/** The CDC ingest benchmark's JVM side: runs one workload's
  * passes through the program's public surfaces and writes what it
  * measured to a JSON file for `run.py`, which checks correctness and
  * prints the result.
  *
  * A pass is one streaming query over one generator connection, with a
  * fresh target table and checkpoint: `maxscale-cdc` source →
  * `CdcSnapshotStream.snapshots` → `foreachBatch` MERGE/DELETE into
  * `graft-manifest` (cdc_catchup, cdc_live), or source → `from_json`
  * projection → `writeStream.format("graft-manifest")` append
  * (cdc_changelog). An untimed warm-up pass comes first, so the timed
  * passes run on compiled code; see README.md for why each setting is
  * pinned.
  *
  *   CdcBench <config.json>
  */
object CdcBench {
  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new File(args(0)))
    val bench = new CdcBench(cfg)
    try bench.run() finally bench.close()
  }

  /** Median of a non-empty sample (mean of the middle two). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private val offsetMapper = new ObjectMapper()

  /** Line count `n` of a `CdcOffset` JSON (0 before the first batch). */
  def offsetLines(json: String): Long =
    if (json == null) 0L else offsetMapper.readTree(json).path("n").asLong()
}

/** One micro-batch of a pass, as the engine reported it. `commitMs` is
  * the epoch time the batch's rows were committed in the sink. */
final case class BatchRec(batchId: Long, startN: Long, endN: Long,
    triggerStartMs: Long, durations: Map[String, Long], commitMs: Double,
    stateUpdateMs: Long, stateCommitMs: Long, stateRows: Long,
    stateBytes: Long)

final case class PassResult(tag: String, kind: String, lines: Int,
    dir: String, batches: Seq[BatchRec], finalN: Long,
    eventsPerS: Double, latencyP50Ms: Double, heapPeakMb: Double,
    jitMs: Double, gcMs: Double, codegenCompiles: Long, bootstrapS: Double,
    gen: JsonNode, sinkTimes: Map[Long, Array[Long]],
    sourceTasks: Map[Long, Int])

final class CdcBench(cfg: JsonNode) {
  import CdcBench._

  private val workload = cfg.path("workload").asText()
  private val snapshotSink = workload != "cdc_changelog"
  private val work = cfg.path("work").asText()
  private val host = "127.0.0.1"
  private val port = cfg.path("port").asInt()
  private val user = cfg.path("user").asText()
  private val password = cfg.path("password").asText()
  private val rate = cfg.path("rate").asDouble()
  private val cap = cfg.path("cap").asInt()
  private val warmCap = cfg.path("warm_cap").asInt()
  private val timedMode = cfg.path("mode").asText()
  private val triggerMs = cfg.path("trigger_ms").asLong()
  private val trace = cfg.path("trace").asBoolean()

  private val historyLines: Array[String] =
    Files.readAllLines(Paths.get(cfg.path("history").asText()), UTF_8)
      .asScala.toArray
  private val ddl = historyLines.head
  private val payload = Protocol.inferSchema(ddl)

  private val out = new ObjectMapper().createObjectNode()

  private val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("cdcbench")
    .config("spark.sql.shuffle.partitions", "2")
    // Spark keys its generated-class cache by the session's artifact
    // class loader, and every streaming query runs in a cloned session:
    // with isolation on, each pass would compile its ~30 classes anew
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  out.put("session_ready_ms", System.currentTimeMillis())

  // ---- JVM probes: heap after each GC, compile and GC time ----------

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val gcSamples = new ConcurrentLinkedQueue[(Long, Double)]()
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        // the full GC forced between passes is not part of any pass
        if (info.getGcCause != "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed
          }.sum
          gcSamples.add((jvmStartMs + info.getGcInfo.getEndTime,
            used / 1048576.0))
        }
      }
  }
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  gcBeans.foreach(_.asInstanceOf[NotificationEmitter]
    .addNotificationListener(gcListener, null, null))
  private def jitMsNow: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  private def gcMsNow: Double = gcBeans.map(_.getCollectionTime).sum.toDouble
  /** Classes Spark's code generator has compiled in this JVM. */
  private def codegenCompiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // ---- traced runs: source-stage task counts per batch ----------------

  private val stageBatch = new ConcurrentHashMap[Int, Long]()
  private val sourceTasks = new ConcurrentHashMap[Long, Int]()
  private val stageListener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
        stageBatch.put(e.stageInfo.stageId, b.toLong)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val scansSource = s.rddInfos.exists(_.scope.exists(
        _.name.contains("MicroBatchScan")))
      if (scansSource) Option(stageBatch.get(s.stageId)).foreach { b =>
        sourceTasks.merge(b, s.numTasks, (a: Int, c: Int) => a + c)
      }
    }
  }

  // ---- one pass ------------------------------------------------------

  @volatile private var passDir: String = _
  private val sinkTimes = new ConcurrentHashMap[Long, Array[Long]]()

  /** foreachBatch body: materialise the changed snapshots once, then
    * MERGE the upserts and DELETE the tombstones. */
  private val applySnapshots = (batch: Dataset[Snapshot], id: Long) => {
    val t0 = System.currentTimeMillis()
    val b = batch.persist(StorageLevel.MEMORY_ONLY)
    val n = b.count()
    val dels = b.filter(col("deleted")).select("userId").collect()
      .map(_.getInt(0))
    val t1 = System.currentTimeMillis()
    if (n > dels.length)
      ManifestSink.merge(spark, passDir,
        b.filter(!col("deleted")).select("userId", "eventId", "ts", "value"),
        Seq("userId"))
    val t2 = System.currentTimeMillis()
    if (dels.nonEmpty)
      ManifestSink.delete(spark, passDir,
        s"userId IN (${dels.mkString(",")})")
    val t3 = System.currentTimeMillis()
    b.unpersist()
    sinkTimes.put(id, Array(t0, t1, t2, t3))
    ()
  }

  private def bootstrap(dir: String): Double = {
    if (!snapshotSink) return 0.0
    val t = System.nanoTime()
    import spark.implicits._
    Seq.empty[(Int, Long, Long, Double)].toDF("userId", "eventId", "ts", "value")
      .coalesce(1)
      .write.mode("overwrite").format("graft-manifest").save(dir)
    (System.nanoTime() - t) / 1e9
  }

  private def startQuery(tag: String, lines: Int, mode: String, cap: Int,
      triggerMs: Long, dir: String, ckpt: String): StreamingQuery = {
    var reader = spark.readStream.format("maxscale-cdc")
      .option("host", host).option("port", port.toString)
      .option("user", user).option("password", password)
      .option("uuid", s"cdcbench-$mode-$lines-$tag")
      .option("database", "bench").option("table", "events")
    if (cap > 0) reader = reader.option("maxLinesPerBatch", cap.toString)
    val rows = reader.load().filter(col("event_type") =!= "ddl")
    val p = from_json(col("raw"), payload)
    val trigger = Trigger.ProcessingTime(triggerMs)
    if (snapshotSink) {
      val changes = rows.select(
        p.getField("user_id").as("userId"),
        col("sequence").as("eventId"),
        col("sequence").as("ts"),
        col("event_type").as("eventType"),
        p.getField("value").as("value"))
        .as[Change](Encoders.product[Change])
      CdcSnapshotStream.snapshots(changes).writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(trigger)
        .foreachBatch(applySnapshots)
        .start()
    } else {
      rows.select(col("sequence"), col("event_number"), col("event_type"),
        p.getField("user_id").as("user_id"),
        p.getField("event_id").as("event_id"),
        p.getField("kind").as("kind"),
        p.getField("value").as("value"),
        p.getField("props").as("props"),
        p.getField("event_time").as("event_time"))
        .writeStream.format("graft-manifest")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(trigger)
        .start(dir)
    }
  }

  private def readGenStats(tag: String): JsonNode = {
    val f = new File(cfg.path("stats_dir").asText(), s"$tag.json")
    val deadline = System.currentTimeMillis() + 30000
    while (!f.exists()) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"generator wrote no stats for $tag")
      Thread.sleep(10)
    }
    new ObjectMapper().readTree(f)
  }

  private var passNo = 0

  def pass(kind: String, lines: Int): PassResult = {
    passNo += 1
    val tag = s"p$passNo$kind"
    val dir = s"$work/tables/$tag"
    val ckpt = s"$work/ckpt/$tag"
    passDir = dir
    System.err.println(s"cdcbench: pass $tag ($lines lines)")
    sinkTimes.clear()
    sourceTasks.clear()
    stageBatch.clear()
    val bootS = bootstrap(dir)
    // warm-up passes drain a backlog in batches of the timed pass's size
    val warm = kind == "warm"
    val mode = if (warm) "blast" else timedMode
    val trigger = if (warm) 0L else triggerMs
    System.gc()
    // a drain starts just past a trigger-grid line, so its second
    // batch (the first with data) fires one interval after it connects
    if (mode == "blast" && trigger > 0)
      Thread.sleep(trigger - System.currentTimeMillis() % trigger + 5)
    if (kind == "traced") spark.sparkContext.addSparkListener(stageListener)
    val startMs = System.currentTimeMillis()
    val jit0 = jitMsNow
    val gc0 = gcMsNow
    val cg0 = codegenCompiles
    val q = startQuery(tag, lines, mode, if (warm) warmCap else cap,
      trigger, dir, ckpt)
    val want = lines + 1L // the schema line is offset 0
    val deadline = System.currentTimeMillis() + 150000
    var n = 0L
    try {
      while (n < want) {
        q.exception.foreach(e => throw e)
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"pass $tag: $n of $want lines committed after 150 s")
        Thread.sleep(5)
        n = Option(q.lastProgress).filter(_.sources.nonEmpty)
          .map(p => offsetLines(p.sources.head.endOffset)).getOrElse(0L)
      }
    } finally q.stop()
    val compiles = codegenCompiles - cg0
    val jitMs = jitMsNow - jit0
    val gcMs = gcMsNow - gc0
    val endMs = System.currentTimeMillis()
    if (kind == "traced") spark.sparkContext.removeSparkListener(stageListener)
    val heap = gcSamples.asScala.filter { case (t, _) =>
      t >= startMs && t <= endMs }.map(_._2)
    val heapPeak = if (heap.isEmpty) Double.NaN else heap.max

    val times = sinkTimes.asScala.toMap
    val batches = q.recentProgress.toSeq
      .filter(_.durationMs.containsKey("addBatch"))
      .map(batchRec(_, times))
    val gen = readGenStats(tag)
    val t0Ms = gen.path("t0_ns").asLong() / 1e6
    val periodMs = if (mode == "rate") 1000.0 / rate else 0.0
    // every DML line's latency: its batch's commit - its due time
    val lat = new ArrayBuffer[Double](lines)
    batches.foreach { b =>
      var i = math.max(b.startN, 1L)
      while (i < b.endN) {
        lat += b.commitMs - (t0Ms + (i - 1) * periodMs)
        i += 1
      }
    }
    val lastCommit = batches.map(_.commitMs).max
    PassResult(tag, kind, lines, dir, batches, n,
      eventsPerS = lines / ((lastCommit - t0Ms) / 1000.0),
      latencyP50Ms = median(lat.toSeq),
      heapPeakMb = heapPeak, jitMs = jitMs, gcMs = gcMs,
      codegenCompiles = compiles, bootstrapS = bootS,
      gen = gen, sinkTimes = times, sourceTasks = sourceTasks.asScala.toMap)
  }

  private def batchRec(p: StreamingQueryProgress,
      times: Map[Long, Array[Long]]): BatchRec = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    // the sink commits at the end of addBatch; commitOffsets follows
    val commit = times.get(p.batchId).map(_(3).toDouble).getOrElse(
      (start + d("triggerExecution") - d.getOrElse("commitOffsets", 0L))
        .toDouble)
    val st = p.stateOperators.headOption
    BatchRec(p.batchId, offsetLines(p.sources.head.startOffset),
      offsetLines(p.sources.head.endOffset), start, d, commit,
      st.map(_.allUpdatesTimeMs).getOrElse(0L),
      st.map(_.commitTimeMs).getOrElse(0L),
      st.map(_.numRowsTotal).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L))
  }

  // ---- reads of the landed table ------------------------------------

  private def readSet(dir: String): Unit = {
    val t = spark.read.format("graft-manifest").load(dir)
    val (key, seq) = if (snapshotSink) ("userId", "eventId")
      else ("user_id", "sequence")
    t.agg(count(lit(1)), sum("value"), max(seq)).collect()
    t.filter(col(key).between(100, 199)).collect()
    ()
  }

  private def timeReads(dir: String, warm: Int, reps: Int): Seq[Double] = {
    (1 to warm).foreach(_ => readSet(dir))
    (1 to reps).map { _ =>
      val t = System.nanoTime()
      readSet(dir)
      (System.nanoTime() - t) / 1e6
    }
  }

  /** The landed rows, for run.py to compare with its own fold. */
  private def dump(dir: String, file: String): Unit = {
    val cols = if (snapshotSink) Seq("userId", "eventId", "value")
      else Seq("sequence", "event_number", "event_type", "user_id")
    val rows = spark.read.format("graft-manifest").load(dir)
      .select(cols.map(col): _*).collect()
    val w: BufferedWriter = Files.newBufferedWriter(Paths.get(file), UTF_8)
    try rows.foreach { r =>
      w.write((0 until r.length).map(i => String.valueOf(r.get(i)))
        .mkString(","))
      w.newLine()
    } finally w.close()
  }

  // ---- direct layer probes -------------------------------------------

  private def nsPerLine(reps: Int, n: Int)(body: => Unit): Double = {
    body
    median((1 to reps).map { _ =>
      val t = System.nanoTime(); body; (System.nanoTime() - t).toDouble / n
    })
  }

  private def probeTransport(lines: Int, reps: Int): Double = median(
    (1 to reps).map { r =>
      val t = new SocketTransport(host, port, user, password,
        s"cdcbench-blast-$lines-probe$r", "bench", "events", None, None)
      val want = lines + 1
      val t0 = System.nanoTime()
      var got = 0
      try {
        t.start()
        val deadline = System.currentTimeMillis() + 60000
        while (got < want) {
          t.error.foreach(e => throw e)
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(s"transport probe: $got of $want")
          val polled = t.poll()
          if (polled.isEmpty) Thread.sleep(1) else got += polled.size
        }
      } finally t.close()
      want / ((System.nanoTime() - t0) / 1e9)
    })

  private def probes(lines: Int, reps: Int): Map[String, Double] = {
    val all = historyLines.take(lines + 1)
    val dml = all.tail
    var sink = 0L
    val decode = nsPerLine(reps, dml.length) {
      dml.foreach(l => sink += Protocol.decodeDmlEvent(l).sequence)
    }
    val reader = nsPerLine(reps, all.length) {
      val r = new CdcPartitionReader(all)
      while (r.next()) { val row: InternalRow = r.get(); sink += row.numFields }
      r.close()
    }
    Map("transport.lines_per_s" -> probeTransport(lines, reps),
      "protocol.decode_ns_per_line" -> decode,
      "source.reader_ns_per_line" -> reader)
  }

  // ---- per-layer metrics and spans of traced passes --------------------

  private def layers(p: PassResult): Map[String, Double] = {
    def sumD(k: String) = p.batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    def sumSink(i: Int, j: Int) =
      p.sinkTimes.values.map(a => a(j) - a(i)).sum.toDouble
    val m = ManifestSink.readAll(p.dir)
    val last = p.batches.maxBy(_.batchId)
    Map(
      "gen.lines_sent" -> p.gen.path("lines_sent").asDouble(),
      "gen.late_p99_ms" -> p.gen.path("late_p99_ms").asDouble(),
      "source.latest_offset_ms" -> sumD("latestOffset"),
      "source.tasks_per_batch" -> median(p.batches.map(b =>
        p.sourceTasks.getOrElse(b.batchId, 0).toDouble)),
      "state.update_ms" -> p.batches.map(_.stateUpdateMs).sum.toDouble,
      "state.commit_ms" -> p.batches.map(_.stateCommitMs).sum.toDouble,
      "state.rows_total" -> last.stateRows.toDouble,
      "state.memory_bytes" -> last.stateBytes.toDouble,
      "sink.merge_ms" -> sumSink(1, 2),
      "sink.delete_ms" -> sumSink(2, 3),
      "sink.append_ms" -> (if (snapshotSink) 0.0 else sumD("addBatch")),
      "sink.data_files" -> m.files.size.toDouble,
      "sink.delete_files" -> m.files.map(_.deletes.size).sum.toDouble,
      "engine.batches" -> p.batches.size.toDouble,
      "engine.trigger_p50_ms" ->
        median(p.batches.map(_.durations("triggerExecution").toDouble)),
      "engine.upstream_ms" -> sumSink(0, 1),
      "engine.planning_ms" -> sumD("queryPlanning"),
      "engine.wal_commit_ms" -> sumD("walCommit"),
      "engine.commit_offsets_ms" -> sumD("commitOffsets"),
      "engine.codegen_compiles" -> p.codegenCompiles.toDouble,
      "jvm.jit_ms" -> p.jitMs,
      "jvm.gc_ms" -> p.gcMs)
  }

  /** Spans of one traced pass: per batch (the trace id) a `trigger`
    * root whose children follow the engine's order inside a trigger,
    * laid end to end from the progress durations; `addBatch` has the
    * foreachBatch wrapper's measured `upstream`/`merge`/`delete`, or one
    * `append` child for the graft-manifest streaming sink. */
  private def spans(p: PassResult, into: ArrayNode): Unit = {
    p.batches.foreach { b =>
      val traceId = s"${p.tag}/${b.batchId}"
      final case class Span(name: String, parent: String, start: Double,
          end: Double)
      val list = ArrayBuffer[Span]()
      val trigEnd = b.triggerStartMs + b.durations("triggerExecution").toDouble
      list += Span("trigger", "", b.triggerStartMs, trigEnd)
      var at = b.triggerStartMs.toDouble
      Seq("latestOffset" -> "latestOffset", "walCommit" -> "walCommit",
        "getBatch" -> "getBatch", "queryPlanning" -> "planning",
        "addBatch" -> "addBatch", "commitOffsets" -> "commitOffsets")
        .foreach { case (k, name) =>
          b.durations.get(k).foreach { d =>
            list += Span(name, "trigger", at, at + d); at += d
          }
        }
      val add = list.find(_.name == "addBatch")
      add.foreach { a =>
        p.sinkTimes.get(b.batchId) match {
          case Some(t) =>
            list += Span("upstream", "addBatch", t(0), t(1))
            list += Span("merge", "addBatch", t(1), t(2))
            list += Span("delete", "addBatch", t(2), t(3))
          case None =>
            list += Span("append", "addBatch", a.start, a.end)
        }
      }
      list.foreach { s =>
        val covered = list.filter(_.parent == s.name).map(c =>
          math.max(0.0, math.min(c.end, s.end) - math.max(c.start, s.start)))
          .sum
        val o = into.addObject()
        o.put("trace", traceId)
        o.put("name", s.name)
        o.put("parent", s.parent)
        o.put("start_ms", s.start)
        o.put("end_ms", s.end)
        o.put("dur_ms", s.end - s.start)
        o.put("self_ms", math.max(0.0, s.end - s.start - covered))
      }
    }
  }

  // ---- the run -----------------------------------------------------------

  private def passJson(p: PassResult, landed: String): ObjectNode = {
    val o = out.objectNode()
    o.put("tag", p.tag)
    o.put("kind", p.kind)
    o.put("lines", p.lines)
    o.put("final_n", p.finalN)
    o.put("batches", p.batches.size)
    val ends = o.putArray("batch_ends")
    p.batches.foreach(b => ends.add(b.endN))
    o.put("batch_ms", p.batches.map(_.durations("triggerExecution"))
      .mkString(" "))
    o.put("events_per_s", p.eventsPerS)
    o.put("latency_p50_ms", p.latencyP50Ms)
    o.put("heap_peak_mb", p.heapPeakMb)
    o.put("jit_ms", p.jitMs)
    o.put("gc_ms", p.gcMs)
    o.put("codegen_compiles", p.codegenCompiles)
    o.put("bootstrap_s", p.bootstrapS)
    o.put("late_p99_ms", p.gen.path("late_p99_ms").asDouble())
    if (landed != null) o.put("landed", landed)
    o
  }

  def run(): Unit = {
    val arr = out.putArray("passes")
    val warm = cfg.path("warm_lines").elements().asScala.toSeq.map(n =>
      pass("warm", n.asInt()))
    warm.foreach(p => arr.add(passJson(p, null)))
    // the read path compiles on the warm-up table
    timeReads(warm.last.dir, cfg.path("read_warm").asInt(), 0)
    val timedLines = cfg.path("timed_lines").asInt()
    val nTimed = cfg.path("timed_passes").asInt()
    val reads = out.putArray("reads_ms")
    // a traced run alternates untraced and traced passes, so the two
    // kinds meet the same JIT state and their difference is the tracing.
    // Each timed pass's table is read right after the pass (its first
    // read untimed), so the reads spread over the run and a burst of
    // CPU steal meets only some of them; the one pass of cdc_live has
    // its reads in three groups 1.5 s apart for the same reason
    val groups = if (nTimed == 1) 3 else 1
    val measured = (1 to nTimed).flatMap { _ =>
      val t = pass("timed", timedLines)
      (1 to groups).foreach { g =>
        if (g > 1) Thread.sleep(1500)
        timeReads(t.dir, 1, cfg.path("read_reps").asInt() / nTimed / groups)
          .foreach(reads.add)
      }
      t +: (if (trace) Seq(pass("traced", timedLines)) else Nil)
    }
    val timed = measured.filter(_.kind == "timed")
    val traced = measured.filter(_.kind == "traced")

    (timed ++ traced).foreach { p =>
      val f = s"$work/landed-${p.tag}.csv"
      dump(p.dir, f)
      arr.add(passJson(p, f))
    }

    if (trace) {
      val per = traced.map(layers)
      val lm = out.putObject("layers")
      per.head.keys.toSeq.sorted.foreach(k =>
        lm.put(k, median(per.map(_(k)))))
      probes(timedLines, cfg.path("probe_reps").asInt())
        .foreach { case (k, v) => lm.put(k, v) }
      val sp = new ObjectMapper().createArrayNode()
      traced.foreach(spans(_, sp))
      new ObjectMapper().writerWithDefaultPrettyPrinter()
        .writeValue(new File(cfg.path("trace_out").asText()), sp)
    }
    new ObjectMapper().writeValue(new File(cfg.path("out").asText()), out)
  }

  def close(): Unit = {
    gcBeans.foreach(b => try b.asInstanceOf[NotificationEmitter]
      .removeNotificationListener(gcListener) catch { case _: Exception => })
    spark.stop()
  }
}
