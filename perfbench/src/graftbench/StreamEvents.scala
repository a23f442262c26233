package graftbench

import graft.blob.{Bloblang, Compile}
import graft.conn.{Outputs, Sources}
import graft.core.Msg
import graft.streaming.Stateful
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable

/** `stream_events`: an open-loop file stream. The generator (outside this
  * process) drops files on its own schedule; this side runs
  * `Sources.fileStream` → a compiled Bloblang mapping →
  * `Stateful.dedupeWithinWatermark` → `Outputs.start` with `Outputs.withDlq`
  * (main + DLQ parquet sinks, checkpointed). Malformed documents bypass the
  * mapping and the dedupe and reach the router with the error facet set.
  *
  * Phases (warm, steady, burst_a, burst_b, burst_c) are coordinated through
  * files in `ctl/`: this side writes `ready` once the query has committed
  * its first file and `drained_<phase>` once a phase's files are all
  * committed; the generator writes `<phase>_done` with the wall-clock time
  * its last file of the phase landed. The warm phase, files at the steady
  * rate, is part of set-up. A traced run traces the steady phase and
  * burst_b, so that the untraced bursts on either side of burst_b give its
  * untraced baseline.
  */
object StreamEvents {
  val Ddl = "id LONG, user STRING, kind STRING, amount LONG, ts LONG, created_ms LONG, " +
    "_corrupt_record STRING"
  val Watermark = "10 seconds"
  val MaxFilesPerTrigger = 40
  val Phases = Seq("steady", "burst_a", "burst_b", "burst_c")
  val TracedPhases = Set("steady", "burst_b")
  private val TimeoutMs = 120000L

  /** foreachBatch router: each micro-batch is wrapped in the Msg envelope
    * (`Compile.envelope` for the mapped rows, the error facet set for the
    * malformed ones), then routed by `Outputs.withDlq` over two parquet
    * sinks. The batch id is stamped on every row and each batch's commit
    * time (after both sinks wrote) is logged for the latency computation. */
  final class Router(out: String, ser: Compile.Ser) {
    @volatile private var batch = -1L
    val commits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var tracer: Option[Tracer] = None

    private def sink(dir: String): Outputs.Sink = df => {
      val w = () => df.withColumn("batch_id", lit(batch)).write.mode("append").parquet(dir)
      tracer.fold(w())(_.span("write")(w()))
    }
    private val route = Outputs.withDlq(sink(s"$out/main"), sink(s"$out/dlq"))

    private def envelope(df: DataFrame): DataFrame = {
      val good = Compile.envelope(df.filter(col(BadCol).isNull).drop(BadCol), ser)
      val bad = df.filter(col(BadCol).isNotNull).select(
        col(BadCol).as(Msg.ContentCol),
        map().cast("map<string,string>").as(Msg.MetaCol),
        lit("invalid JSON document").as(Msg.ErrorCol),
        monotonically_increasing_id().as(Msg.SeqCol))
      good.unionByName(bad)
    }

    val fn: (DataFrame, Long) => Unit = (df, id) => {
      batch = id
      tracer.fold(route(envelope(df), id))(_.span("router")(route(envelope(df), id)))
      commits.add((id, System.currentTimeMillis()))
    }
  }

  /** Raw text of a malformed document; null on mapped rows. */
  private val BadCol = "_bad"

  /** The well-formed documents, the input of the mapping. */
  private def valid(raw: DataFrame): DataFrame =
    raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")

  def start(spark: SparkSession, mapping: Bloblang.Mapping, in: String, out: String,
            checkpoint: String): (StreamingQuery, Router) = {
    val raw = Sources.fileStream(spark, in, Ddl, "json", MaxFilesPerTrigger)
    val docs = valid(raw)
    val compiled = Compile.tryCompile(mapping, docs.schema)
      .getOrElse(sys.error("stream mapping must stay inside the compiled subset"))
    // the mapping carries `ts`, the event time of the watermark dedupe
    val mapped = compiled.transform(docs).withColumn("event_time", timestamp_millis(col("ts")))
    val good = Stateful.dedupeWithinWatermark(mapped, "event_time", Watermark, Seq("id"))
      .drop("event_time").withColumn(BadCol, lit(null).cast("string"))
    // the reference to `id` keeps the scan from reading the corrupt-record
    // column alone, which Spark refuses for raw JSON
    val bad = raw.filter(col("_corrupt_record").isNotNull)
      .select(when(col("id").isNull, col("_corrupt_record")).as(BadCol))
    val router = new Router(out, compiled.ser)
    (Outputs.start(good.unionByName(bad, allowMissingColumns = true), router.fn, checkpoint), router)
  }

  /** Wait until a trigger that began after `afterMs` found no new data:
    * every file that existed at `afterMs` has been committed. */
  def awaitIdleAfter(q: StreamingQuery, afterMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + TimeoutMs
    def idle(p: StreamingQueryProgress) =
      p.numInputRows == 0 && java.time.Instant.parse(p.timestamp).toEpochMilli > afterMs
    while (!q.recentProgress.exists(idle)) {
      q.exception.foreach(e => throw e)
      require(System.currentTimeMillis() < deadline, "stream did not drain in time")
      Thread.sleep(5)
    }
  }

  private def awaitFile(p: Path): Long = {
    val deadline = System.currentTimeMillis() + TimeoutMs
    while (!Files.exists(p)) {
      require(System.currentTimeMillis() < deadline, s"generator never wrote $p")
      Thread.sleep(2)
    }
    new String(Files.readAllBytes(p), UTF_8).trim.toLong
  }

  private def touch(p: Path, body: String): Unit = {
    val tmp = Paths.get(p.toString + ".tmp")
    Files.write(tmp, body.getBytes(UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "20")
    val mappingText = new String(Files.readAllBytes(Paths.get(ctx.m("mapping"))), UTF_8)
    val mapping = Bloblang.parse(mappingText)
    val ctl = ctx.work.resolve("ctl")
    var query: StreamingQuery = null
    var router: Router = null
    Setup.measure(ctx) {
      val t0 = System.currentTimeMillis()
      val (q, r) = start(spark, mapping, ctx.m("input_dir"), ctx.path("out"), ctx.path("ckpt"))
      query = q; router = r
      awaitIdleAfter(q, t0)
      touch(ctl.resolve("ready"), System.currentTimeMillis().toString)
      awaitIdleAfter(q, awaitFile(ctl.resolve("warm_done")))
    }
    try {
      val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
      val listener = new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          progress.synchronized(progress += e.progress)
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
      // switched only between phases, while the stream is idle
      def traceOn(on: Boolean): Unit = tracer.filter(_ => on != router.tracer.isDefined).foreach { t =>
        if (on) { spark.streams.addListener(listener); t.attach(); router.tracer = Some(t) }
        else { router.tracer = None; t.detach(); spark.streams.removeListener(listener) }
      }
      val cpu0 = Sys.cpuNs()
      traceOn(TracedPhases(Phases.head))
      touch(ctl.resolve("drained_warm"), "1")
      for (k <- Phases.indices) {
        awaitIdleAfter(query, awaitFile(ctl.resolve(s"${Phases(k)}_done")))
        traceOn(Phases.lift(k + 1).exists(TracedPhases))
        touch(ctl.resolve(s"drained_${Phases(k)}"), "1")
      }
      ctx.result("timed_cpu_ms") = (Sys.cpuNs() - cpu0) / 1e6
      tracer.foreach { t =>
        val batches = progress.synchronized(progress.toVector).filter(_.numInputRows > 0)
        ctx.layer ++= t.report(batches.size)
        ctx.layer ++= streamLayers(batches)
        ctx.layer("output.router_ms_p50") = t.spanMedian("router")
        ctx.layer("output.write_ms_p50") = t.spanMedian("write")
        ctx.layer("blob.parse_ms") = Loop.medianMs(20)(Bloblang.parse(mappingText))
        val schema = valid(
          Sources.fileStream(spark, ctx.m("input_dir"), Ddl, "json", MaxFilesPerTrigger)).schema
        ctx.layer("blob.compile_ms") = Loop.medianMs(20)(Compile.tryCompile(mapping, schema))
        ctx.layer("blob.compiled_share") = 1.0
      }
    } finally query.stop()
    val commits = router.commits.toArray.map { case (id, ms) => Map("batch" -> id, "commit_ms" -> ms) }
    ctx.result("commits") = commits.toSeq
  }

  private def streamLayers(ps: Vector[StreamingQueryProgress]): Map[String, Double] = {
    def p50(f: StreamingQueryProgress => Double) = Stats.median(ps.map(f))
    def dur(k: String)(p: StreamingQueryProgress) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val state = ps.flatMap(_.stateOperators.headOption)
    def wmLag(p: StreamingQueryProgress): Double = Option(p.eventTime.get("watermark"))
      .map(w => (java.time.Instant.parse(p.timestamp).toEpochMilli -
        java.time.Instant.parse(w).toEpochMilli).toDouble).getOrElse(0.0)
    Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.rows_per_batch_p50" -> p50(_.numInputRows.toDouble),
      "stream.trigger_ms_p50" -> p50(dur("triggerExecution")),
      "stream.latest_offset_ms_p50" -> p50(dur("latestOffset")),
      "stream.query_planning_ms_p50" -> p50(dur("queryPlanning")),
      "stream.add_batch_ms_p50" -> p50(dur("addBatch")),
      "stream.wal_commit_ms_p50" -> p50(dur("walCommit")),
      "stream.commit_ms_p50" -> p50(dur("commitOffsets")),
      "stream.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "stream.state_mb" -> state.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "stream.state_commit_ms_p50" -> Stats.median(state.map(_.commitTimeMs.toDouble)),
      "stream.state_rows_removed" -> state.map(_.numRowsRemoved.toDouble).sum,
      "stream.watermark_lag_ms_p50" -> p50(wmLag))
  }
}
