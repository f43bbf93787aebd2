package perfbench

import com.fasterxml.jackson.databind.JsonNode
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One document as the document stream carries it. */
final case class Doc(doc_id: Long, ts: Timestamp, text: String)

/** One event as the event stream carries it (the events table's schema). */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** The pipeline workload. Three phases follow the untimed warm-up:
  *
  *  1. publish: closed-loop calls of `Pipeline.publishSuggestions` then
  *     `Pipeline.publishCurated` into the offline file writers;
  *  2. open loop: a generator thread adds one slice (events to
  *     `eventPipeline`, documents to `suggestionPipeline` and
  *     `curationPipeline`, all running at once) every 1/rate seconds,
  *     whether or not the pipelines kept up;
  *  3. catch-up: closed loop, one slice to every pipeline, wait until all
  *     three processed it, repeat.
  *
  * The seed rotates which documents and which stretch of the
  * time-ordered events the slices carry. After the run the final sink
  * contents are checked against batch computations over the delivered
  * inputs.
  *
  * Settings: slice-events, slice-docs, warm-publish, warm-slices,
  * open-rate (slices/s), publish-share / open-share (of `seconds`; the
  * rest is catch-up), min-publish, min-catchup, and min-ops (ingest
  * latency samples: the open loop sends at least a third as many slices,
  * since every slice reaches three pipelines). */
final class EtlRun(spark: SparkSession, a: Map[String, String],
    budget: Budget, trace: Option[Trace]) {
  import spark.implicits._
  private val data = a("data")
  private val work = Paths.get(a("work"))
  private val sliceEvents = a("slice-events").toInt
  private val sliceDocs = a("slice-docs").toInt
  private val rng = new scala.util.Random(a("seed").toLong)
  private val sc = spark.sparkContext
  private val pipelines = Seq("events", "suggest", "curate")

  private def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  // ---- inputs ------------------------------------------------------------
  private val docs: Array[(Long, String)] = graft.Tables.documents(spark, data)
    .select("doc_id", "text").orderBy("doc_id").as[(Long, String)].collect()
  private val events: Array[Ev] = graft.Tables.events(spark, data)
    .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))
    .orderBy("ts", "event_id").as[Ev].collect()
  private val maxSlices = math.min(docs.length / sliceDocs,
    events.length / sliceEvents)
  private val docStart = rng.nextInt(docs.length)
  // a contiguous, time-ordered stretch, so no event arrives late
  private val eventStart = rng.nextInt(events.length - maxSlices * sliceEvents + 1)
  private val docBase = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def sliceDocsOf(i: Int): Seq[Doc] = (0 until sliceDocs).map { j =>
    val (id, text) = docs((docStart + i * sliceDocs + j) % docs.length)
    Doc(id, new Timestamp(docBase + i * 1000L), text)
  }
  private def sliceEventsOf(i: Int): Seq[Ev] =
    events.slice(eventStart + i * sliceEvents, eventStart + (i + 1) * sliceEvents).toSeq

  // ---- streams -----------------------------------------------------------
  private implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val evStream = MemoryStream[Ev]
  private val sugStream = MemoryStream[Doc]
  private val curStream = MemoryStream[Doc]

  /** (pipeline, receive ms, batch id, end offset, input rows,
    * trigger start ms, durations, state rows, state bytes, late rows) */
  private case class Prog(pipeline: String, recvMs: Double, batch: Long,
      endOffset: Long, rows: Long, startMs: Double, durations: Map[String, Long],
      stateRows: Long, stateBytes: Long, lateRows: Long)
  private val progress = new ConcurrentLinkedQueue[Prog]()
  private val queryName = mutable.HashMap.empty[java.util.UUID, String]

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val now = Clock.nowMs
      val p = e.progress
      val name = queryName.synchronized(queryName.get(p.id)).getOrElse("?")
      val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
        .flatMap(_.trim.toLongOption).getOrElse(-1L)
      val ops = p.stateOperators.toSeq
      progress.add(Prog(name, now, p.batchId, end, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numRowsDroppedByWatermark).sum))
    }
  }

  private case class Slice(index: Int, phase: String, dueMs: Double,
      addedMs: Double, offset: Long)
  private val slices = new ConcurrentLinkedQueue[Slice]()
  private var nextSlice = 0

  /** Add the next slice to every pipeline. */
  private def addSlice(phase: String, dueMs: Double): Unit = {
    val i = nextSlice
    nextSlice += 1
    val docsI = sliceDocsOf(i)
    val evI = sliceEventsOf(i)
    val offs = Seq(evStream.addData(evI), sugStream.addData(docsI),
      curStream.addData(docsI)).map(_.json.trim.toLong).distinct
    require(offs.size == 1, s"streams out of step: $offs")
    slices.add(Slice(i, phase, dueMs, Clock.nowMs, offs.head))
  }

  private def startQueries(): Seq[StreamingQuery] = {
    def tagged(name: String)(start: => StreamingQuery): StreamingQuery = {
      sc.setLocalProperty(Trace.TagKey, s"stream:$name")
      try {
        val q = start
        queryName.synchronized(queryName(q.id) = name)
        q
      } finally sc.setLocalProperty(Trace.TagKey, null)
    }
    val evSource = new graft.sources.SourceFactory {
      def stream(s: SparkSession): DataFrame = evStream.toDF()
    }
    Seq(
      tagged("events")(graft.Pipeline.eventPipeline(spark, evSource,
        new CountingIndexWriter(dir("sink/events"), "stream"), dir("ckpt/events"))),
      tagged("suggest")(graft.Pipeline.suggestionPipeline(spark,
        sugStream.toDF(), new CountingIndexWriter(dir("sink/suggest"), "stream"),
        dir("ckpt/suggest"))),
      tagged("curate")(graft.Pipeline.curationPipeline(spark, curStream.toDF(),
        Map.empty, new CountingTableWriter(dir("sink/curate"), "stream"),
        dir("ckpt/curate"))))
  }

  private case class Publish(n: Int, timed: Boolean, t0: Double,
      tMid: Double, t1: Double, suggestLines: Long, curateLines: Long,
      error: String)
  private val publishes = mutable.ArrayBuffer.empty[Publish]

  private def publish(timed: Boolean): Unit = {
    val n = publishes.size
    val t0 = Clock.nowMs
    var tMid = t0
    var error: String = null
    val lines = SinkStats("publish").lines
    val l0 = lines.get
    var l1 = l0
    try {
      sc.setLocalProperty(Trace.TagKey, s"pub$n.suggest")
      graft.Pipeline.publishSuggestions(spark, data,
        new CountingIndexWriter(dir("publish/suggest"), "publish"))
      tMid = Clock.nowMs
      l1 = lines.get
      sc.setLocalProperty(Trace.TagKey, s"pub$n.curate")
      graft.Pipeline.publishCurated(spark, data, Map.empty,
        new CountingTableWriter(dir("publish/curate"), "publish"))
    } catch {
      case t: Throwable => error = s"${t.getClass.getName}: ${t.getMessage}".take(400)
    } finally sc.setLocalProperty(Trace.TagKey, null)
    publishes += Publish(n, timed, t0, tMid, Clock.nowMs, l1 - l0,
      lines.get - l1, error)
  }

  private def sleepUntil(ms: Double): Unit = {
    val d = ms - Clock.nowMs
    if (d > 0) Thread.sleep(d.toLong, ((d - d.toLong) * 1e6).toInt)
  }

  def run(): () => Map[String, Any] = {
    spark.streams.addListener(listener)
    val seconds = budget.seconds
    val warmStart = Clock.nowMs
    val entriesBefore = graft.Caches.totalEntries
    for (_ <- 0 until a("warm-publish").toInt) publish(false)
    val queries = startQueries()
    for (_ <- 0 until a("warm-slices").toInt) {
      addSlice("warm", Clock.nowMs)
      queries.foreach(_.processAllAvailable())
    }
    val entriesAfterSetup = graft.Caches.totalEntries
    val warmMs = Clock.nowMs - warmStart
    val sinkAtStart = SinkStats.total

    // phase 1: publish
    val measureStart = Clock.nowMs
    val publishEnd = measureStart + seconds * 1000 * a("publish-share").toDouble
    while (!budget.overCap && (Clock.nowMs < publishEnd ||
        publishes.count(_.timed) < a("min-publish").toInt)) publish(true)
    val entriesAfterPublish = graft.Caches.totalEntries

    // phase 2: open loop
    val rate = a("open-rate").toDouble
    val nOpen = math.min(maxSlices - nextSlice - a("min-catchup").toInt,
      math.max((a("min-ops").toInt + 2) / 3,
        (seconds * a("open-share").toDouble * rate).round.toInt))
    val openStart = Clock.nowMs
    val lateness = mutable.ArrayBuffer.empty[Double]
    val gen = new Thread(() => {
      for (j <- 0 until nOpen) {
        val due = openStart + j * 1000 / rate
        sleepUntil(due)
        lateness += Clock.nowMs - due
        addSlice("open", due)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    queries.foreach(_.processAllAvailable())
    val openEnd = Clock.nowMs

    // phase 3: catch-up
    val catchupEnd = measureStart + seconds * 1000
    val rounds = mutable.ArrayBuffer.empty[(Double, Long)]
    while (nextSlice < maxSlices && !budget.overCap &&
        (Clock.nowMs < catchupEnd || rounds.size < a("min-catchup").toInt)) {
      val t0 = Clock.nowMs
      addSlice("catchup", t0)
      queries.foreach(_.processAllAvailable())
      rounds += ((Clock.nowMs - t0, (sliceEvents + 2 * sliceDocs).toLong))
    }
    val measureEnd = Clock.nowMs
    val sinkAtEnd = SinkStats.total
    val heapMb = Resources.retainedHeapMb
    val exceptions = queries.flatMap(q => q.exception.map(e => s"${q.name}: $e"))
    queries.foreach(_.stop())
    spark.streams.removeListener(listener)

    val checks = check()
    val entriesEnd = graft.Caches.totalEntries
    () => Map(
      "mode" -> "etl",
      "setup_ms" -> (measureStart - budget.launchMs),
      "measure_ms" -> (measureEnd - measureStart),
      "open_ms" -> (openEnd - openStart),
      "slice_rows" -> Map("events" -> sliceEvents, "docs" -> sliceDocs),
      "caches" -> Map("before" -> entriesBefore,
        "after_setup" -> entriesAfterSetup,
        "after_publish" -> entriesAfterPublish, "end" -> entriesEnd,
        "warm_ms" -> warmMs),
      "publish" -> publishes.map(p => Map("timed" -> p.timed,
        "ms" -> (p.t1 - p.t0), "suggest_ms" -> (p.tMid - p.t0),
        "suggest_lines" -> p.suggestLines, "curate_lines" -> p.curateLines,
        "error" -> Option(p.error))),
      "slices" -> slices.asScala.toSeq.map(s => Map("index" -> s.index,
        "phase" -> s.phase, "due_ms" -> s.dueMs, "added_ms" -> s.addedMs,
        "offset" -> s.offset)),
      "generator_late_ms" -> lateness,
      "catchup" -> rounds.map { case (ms, rows) => Map("ms" -> ms, "rows" -> rows) },
      "retained_heap_mb" -> heapMb,
      "progress" -> progress.asScala.toSeq.map(p => Map(
        "pipeline" -> p.pipeline, "recv_ms" -> p.recvMs, "batch" -> p.batch,
        "end_offset" -> p.endOffset, "rows" -> p.rows,
        "start_ms" -> p.startMs, "durations" -> p.durations,
        "state_rows" -> p.stateRows, "state_bytes" -> p.stateBytes,
        "late_rows" -> p.lateRows)),
      "sinks" -> Map("start" -> sinkAtStart, "end" -> sinkAtEnd),
      "stream_errors" -> exceptions,
      "checks" -> checks,
      "layers" -> trace.map(layers),
      "spans" -> trace.map(spans(_, measureStart, measureEnd)))
  }

  // ---- correctness -------------------------------------------------------

  private def bulkDocs(d: String): Map[String, JsonNode] = {
    val mapper = Json.mapper
    val files = Option(new java.io.File(d).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("bulk-"))
      .map { f =>
        val Array(_, b, p) = f.getName.stripSuffix(".jsonl").split("-")
        ((b.toLong, p.toInt), f.toPath)
      }.sortBy(_._1)
    val last = mutable.HashMap.empty[String, JsonNode]
    files.foreach { case (_, path) =>
      Files.readAllLines(path).asScala.grouped(2).foreach {
        case mutable.Buffer(meta, doc) =>
          last(mapper.readTree(meta).get("index").get("_id").asText) = mapper.readTree(doc)
        case _ => ()
      }
    }
    last.toMap
  }

  private def csvLines(d: String, prefix: String): Long =
    Option(new java.io.File(d).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(prefix))
      .map(f => Files.readAllLines(f.toPath).asScala.count(_.nonEmpty).toLong).sum

  /** Final sink contents against batch computations over the same inputs. */
  private def check(): Map[String, Any] = {
    val delivered = slices.asScala.toSeq.map(_.index).sorted
    val docsDelivered = delivered.flatMap(sliceDocsOf)
    val evDelivered = delivered.flatMap(sliceEventsOf)

    // suggestion index: the batch build over the delivered documents,
    // ranked the way the live pipeline ranks (count desc, then token)
    val docDir = work.resolve("delivered")
    val ids = docsDelivered.map(_.doc_id).distinct
    graft.Tables.documents(spark, data).where(col("doc_id").isin(ids: _*))
      .write.mode("overwrite").parquet(docDir.resolve("documents.parquet").toString)
    val w = Window.partitionBy("prefix").orderBy(col("cnt").desc, col("token"))
    val expectSuggest = graft.Pipeline.suggestionIndex(spark, docDir.toString)
      .filter(length(col("token")) > 0)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(concat_ws("|", col("prefix"), col("rank").cast("string")),
        col("token"), col("cnt")).as[(String, String, Long)].collect()
      .map { case (id, t, c) => id -> (t, c) }.toMap
    val gotSuggest = bulkDocs(work.resolve("sink/suggest").toString).map {
      case (id, d) => id -> (d.get("token").asText, d.get("cnt").asLong) }
    val suggestOk = gotSuggest == expectSuggest

    // curation: what the live gate admitted equals the batch gate, the
    // shared quality score (q_text_quality) at the same cut, one document
    // per distinct text
    val expectAdmitted = graft.SparkEntry.queries("q_text_quality")(spark, docDir.toString)
      .filter(col("quality") >= 0.95).select("doc_id")
      .join(graft.Tables.documents(spark, docDir.toString), "doc_id")
      .select(md5(col("text"))).distinct().count()
    val gotAdmitted = csvLines(work.resolve("sink/curate").toString, "admitted_docs-")
    val curateOk = gotAdmitted == expectAdmitted

    // event aggregates: last delivered value per window/type equals a
    // batch tumbling aggregation over the delivered events
    val expectAggs = graft.streaming.StreamingOps.tumbling(evDelivered.toDF())
      .select(concat_ws("|", col("h").cast("string"), col("event_type")),
        col("cnt"), col("total")).as[(String, Long, Double)].collect()
      .map { case (id, c, t) => id -> (c, t) }.toMap
    val gotAggs = bulkDocs(work.resolve("sink/events").toString).map {
      case (id, d) => id -> (d.get("cnt").asLong, d.get("total").asDouble) }
    val aggsOk = gotAggs.keySet == expectAggs.keySet && expectAggs.forall {
      case (id, (c, t)) => gotAggs.get(id).exists { case (gc, gt) =>
        gc == c && math.abs(gt - t) <= 1e-9 * math.max(1.0, math.abs(t)) }
    }

    // batch publish: what each call delivered equals the batch outputs
    val suggestRows = graft.Pipeline.suggestionIndex(spark, data).count()
    val curatedRows = graft.Pipeline.curateCorpus(spark, data).count()
    Map(
      "suggest" -> Map("ok" -> suggestOk, "expected" -> expectSuggest.size,
        "got" -> gotSuggest.size),
      "curate" -> Map("ok" -> curateOk, "expected" -> expectAdmitted,
        "got" -> gotAdmitted),
      "events" -> Map("ok" -> aggsOk, "expected" -> expectAggs.size,
        "got" -> gotAggs.size),
      "publish_expected" -> Map("suggest_lines" -> 2 * suggestRows,
        "curate_lines" -> curatedRows))
  }

  // ---- tracing -----------------------------------------------------------

  private def layers(t: Trace): Map[String, Any] = Map(
    "publish" -> publishes.map(p => Map("n" -> p.n, "timed" -> p.timed,
      "suggest" -> t.totalsFor(s"pub${p.n}.suggest").toMap,
      "curate" -> t.totalsFor(s"pub${p.n}.curate").toMap)),
    "streams" -> pipelines.map(n => n -> t.totalsFor(s"stream:$n").toMap).toMap)

  /** Spans of the timed window only. */
  private def spans(t: Trace, startMs: Double, endMs: Double): Seq[Map[String, Any]] = {
    val parents = mutable.HashMap.empty[String, (String, Int)]
    publishes.filter(_.timed).foreach { p =>
      val id = s"publish#${p.n}"
      val root = t.span(id, "publish", 0, p.t0, p.t1)
      parents(s"pub${p.n}.suggest") = id -> t.span(id, "pipeline.publishSuggestions", root, p.t0, p.tMid)
      parents(s"pub${p.n}.curate") = id -> t.span(id, "pipeline.publishCurated", root, p.tMid, p.t1)
    }
    val progs = progress.asScala.toSeq
    pipelines.foreach { n =>
      val id = s"stream:$n"
      parents(id) = id -> t.span(id, "streaming.query", 0, startMs, endMs)
    }
    // micro-batches, their parts laid out in the order the engine runs them
    progs.filter(p => p.rows > 0 && p.startMs >= startMs).foreach { p =>
      val id = s"${p.pipeline}:batch${p.batch}"
      val d = p.durations.withDefaultValue(0L)
      val root = t.span(id, "streaming.batch", 0, p.startMs,
        p.startMs + d("triggerExecution"))
      var at = p.startMs + d("latestOffset")
      Seq("walCommit" -> "streaming.commit", "queryPlanning" -> "streaming.plan",
        "addBatch" -> "streaming.sink", "commitOffsets" -> "streaming.commit")
        .foreach { case (k, name) =>
          t.span(id, name, root, at, at + d(k)); at += d(k) }
    }
    // slice deliveries: due time to each pipeline's delivering progress event
    slices.asScala.filter(_.phase != "warm").foreach { s =>
      val id = s"slice#${s.index}"
      val got = pipelines.flatMap(n => progs.filter(p => p.pipeline == n &&
        p.endOffset >= s.offset).map(_.recvMs).minOption.map(n -> _))
      if (got.nonEmpty) {
        val root = t.span(id, "slice", 0, s.dueMs, got.map(_._2).max)
        got.foreach { case (n, r) => t.span(id, s"ingest.$n", root, s.dueMs, r) }
      }
    }
    t.spansOut(parents.get)
  }
}
