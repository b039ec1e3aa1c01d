package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.gen.EventGen
import graft.ops.TableManifest
import graft.sources.FileLog
import graft.streaming.{EventDecode, ManifestAppendSink, SessionsV2}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** `pipeline`: events → graft-log → decode → sessionize (RocksDB state) →
  * manifest append, restart-then-tail.
  *
  *  - catch-up (closed loop): the query starts against a backlog of
  *    `CatchUpTriggers` full triggers already appended to the log and
  *    drains it; `ops_per_s` is the median over the micro-batches after
  *    the first of events committed per second, so query start
  *    (checkpoint creation, state store open, first planning) is left out
  *    of it and reported apart as the time to the first committed batch;
  *  - live (open loop): one producer thread appends a segment every tick at
  *    the fixed `--live-rate`; each record's timestamp is its segment's due
  *    time, and a segment's freshness runs from that due time until the
  *    `applyBatch` of the micro-batch that read it returned.
  *
  * Events come from `EventGen.batch(seed)` sorted by `event_ts`, so the
  * watermark advances with the data and no event is late. */
final class Pipeline(h: Harness) extends Workload(h) {
  import Pipeline._

  private val rate = h.args.getOrElse("live-rate", "1700").toInt
  private val segRecords = math.max(1, (rate * TickS).round.toInt)
  // a trigger takes whole segments, so the backlog is whole triggers of
  // whole segments and every catch-up micro-batch is full
  private val backlog = CatchUpTriggers * segRecords.toLong * math.max(1L, Cap / segRecords)
  private val liveSegs = math.max(1, (LiveShare * h.seconds / TickS).round.toInt)
  private val total = backlog + liveSegs.toLong * segRecords

  private var root = ""
  private var json: Array[Array[Byte]] = Array.empty
  private var plain: Array[(String, String, String)] = Array.empty
  private var fingerprint = ""
  private var lastProgress: Seq[StreamingQueryProgress] = Nil

  private def logDir = s"$root/log"
  private def sinkDir = s"$root/sink"
  private def ckptDir = s"$root/checkpoint"

  private def records(from: Long, n: Int, tsMicros: Long): Iterator[FileLog.Record] =
    (from until from + n).iterator.map(i => FileLog.Record(null, json(i.toInt), tsMicros))

  def prepare(round: Int): Unit = {
    if (json.isEmpty) {
      val ev = EventGen.batch(spark, total, h.seed)
        .orderBy(col("event_ts"), col("user_id"), col("event_name"))
        .cache()
      json = EventGen.asJson(ev).collect().map(_.getString(0).getBytes(UTF_8))
      // cart_id is a uuid() — random on every evaluation — so it is left
      // out of the fingerprint and of the check
      val rows = ev.select("timestamp", "event_name", "user_id", "item_id",
        "payment_method", "age", "masked_email", "preferred_language").collect()
      plain = rows.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.foreach(r => md.update(r.mkString("\u0001").getBytes(UTF_8)))
      fingerprint = md.digest().take(8).map("%02x".format(_)).mkString
      ev.unpersist()
    }
    root = h.dir(s"pipeline-$round")
    val now = System.currentTimeMillis() * 1000L
    var off = 0L
    while (off < backlog) {
      FileLog.append(logDir, records(off, segRecords, now))
      off += segRecords
    }
  }

  private def startQuery(log: String, ckpt: String, sink: String,
      applied: mutable.Map[Long, Long]) = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val src = spark.readStream.format("graft-log")
      .option("maxRecordsPerTrigger", Cap.toString).load(log)
    SessionsV2.sessionize(EventDecode.decode(src)).toDF()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the gate's self-test drops one micro-batch: it still runs (the
        // state store must commit) but its sessions never reach the table
        if (h.selftest && id == 2) batch.write.format("noop").mode("overwrite").save()
        else Trace.span("sink.apply_batch")(ManifestAppendSink.applyBatch(batch, id, sink))
        applied.synchronized(applied(id) = System.nanoTime())
        ()
      }
      .start()
  }

  def warmup(): Unit = {
    // a full trigger and a small one, on a log of their own, compile the
    // decode, state and sink paths before timing
    val w = h.dir("pipeline-warmup")
    FileLog.append(s"$w/log", records(0, Cap.toInt, 0L))
    FileLog.append(s"$w/log", records(Cap, segRecords, 0L))
    val q = startQuery(s"$w/log", s"$w/checkpoint", s"$w/sink", mutable.Map.empty)
    q.processAllAvailable()
    q.stop()
    h.rmrf(w)
  }

  // nanoTime → wall-clock millis, to line up with listener event times
  private val wallOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
  private def wallMs(nanos: Long): Long = wallOffsetMs + nanos / 1000000L

  def run(seconds: Double): Window = {
    val w = new Window
    val applied = mutable.Map.empty[Long, Long]
    val t0 = System.nanoTime()
    val q = startQuery(logDir, ckptDir, sinkDir, applied)
    q.processAllAvailable()

    // live phase: one producer, one segment per tick, open loop
    val due = new Array[Long](liveSegs)
    val ends = new Array[Long](liveSegs)
    val lag = new Array[Long](liveSegs)
    val producer = new Thread(() => {
      val start = System.nanoTime()
      (0 until liveSegs).foreach { j =>
        due(j) = start + (j * TickS * 1e9).toLong
        val wait = due(j) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lag(j) = System.nanoTime() - due(j)
        val dueMicros = wallMs(due(j)) * 1000L
        Trace.span("log.append")(
          FileLog.append(logDir, records(backlog + j.toLong * segRecords, segRecords, dueMicros)))
        ends(j) = backlog + (j + 1).toLong * segRecords
      }
    }, "perfbench-producer")
    producer.start()
    producer.join()
    val consumed = Option(q.lastProgress)
      .map(p => offsetOf(p.sources.head.endOffset)).getOrElse(0L)
    val unconsumed = total - consumed
    if (unconsumed > Cap)
      w.failures += s"live phase ended with $unconsumed records unconsumed (cap $Cap)"
    val tickNs = (TickS * 1e9).toLong
    val late = lag.count(_ > tickNs)
    if (late > 0) w.failures += s"producer ran more than one tick late on $late segments"
    q.processAllAvailable()
    q.stop()
    w.seconds = (System.nanoTime() - t0) / 1e9

    lastProgress = q.recentProgress.toSeq
    catchUp(w, t0, applied)
    // freshness per live segment: from its due time until the applyBatch
    // of the micro-batch that read it returned
    val batchEnds = lastProgress.filter(_.numInputRows > 0)
      .flatMap(p => applied.synchronized(applied.get(p.batchId))
        .map(a => (offsetOf(p.sources.head.endOffset), a)))
      .sortBy(_._1)
    w.layerOps = Some(lastProgress.filter(_.numInputRows > 0).flatMap { p =>
      applied.synchronized(applied.get(p.batchId)).map { a =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        Op("micro_batch", start, wallMs(a), (wallMs(a) - start) * 1000000L)
      }
    })
    ends.indices.foreach { j =>
      batchEnds.find(_._1 >= ends(j)).foreach { case (_, a) =>
        w.ops += Op("segment", wallMs(due(j)), wallMs(a), a - due(j))
      }
    }
    val state = lastProgress.flatMap(_.stateOperators.headOption)
    val dropped = state.map(_.numRowsDroppedByWatermark).sum
    if (dropped > 0) w.failures += s"$dropped events dropped as late"
    w.extra("attempted") = total
    w.extra("gen_lag_s") = lag.map(_ / 1e9).toSeq
    w.extra("sizes") = Map(
      "events" -> total, "backlog" -> backlog, "live_segments" -> liveSegs,
      "segment_records" -> segRecords, "max_records_per_trigger" -> Cap,
      "live_rate" -> rate, "log_bytes" -> h.duBytes(logDir),
      "micro_batches" -> lastProgress.size,
      "peak_state_keys" -> (if (state.isEmpty) 0L else state.map(_.numRowsTotal).max))
    w
  }

  /** Throughput of the catch-up batches after the first: each one's events
    * over the time since the previous batch's `applyBatch` returned, and the
    * median of those, so one batch stalled by a pause does not set it. */
  private def catchUp(w: Window, t0: Long, applied: mutable.Map[Long, Long]): Unit = {
    val batches = lastProgress
      .filter(p => p.numInputRows > 0 && offsetOf(p.sources.head.endOffset) <= backlog)
      .sortBy(_.batchId)
    val ends = applied.synchronized(batches.map(p => applied.get(p.batchId)))
    if (batches.size < 2 || ends.exists(_.isEmpty)) {
      w.failures += s"catch-up ran as ${batches.size} committed micro-batches, not $CatchUpTriggers"
      w.extra("throughput") = Map("count" -> backlog, "seconds" -> 0.0)
    } else {
      val gaps = ends.map(_.get).sliding(2).map { case Seq(a, b) => (b - a) / 1e9 }.toSeq
      val rates = batches.tail.map(_.numInputRows.toDouble).zip(gaps).map { case (n, s) => n / s }
      val median = rates.sorted.apply(rates.size / 2)
      w.extra("throughput") = Map("count" -> median, "seconds" -> 1.0) // already a rate
      w.extra("catch_up") = Map("first_batch_s" -> (ends.head.get - t0) / 1e9,
        "batches" -> batches.size, "batch_s" -> gaps,
        "records_after_first" -> batches.tail.map(_.numInputRows).sum)
    }
  }

  def verify(w: Window): Unit = {
    val check = h.dir("check-pipeline")
    val sessions = s"$check/sessions"
    TableManifest.readTable(spark, sinkDir).write.mode("overwrite").parquet(sessions)
    val rows = spark.read.parquet(sessions).count()
    val ev = java.nio.file.Paths.get(check, "events.tsv")
    val lines = plain.iterator.map { case (ts, name, user) => s"$user\t$name\t$ts" }
    java.nio.file.Files.write(ev, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    w.extra("bytes_per_row") = h.duBytes(sinkDir).toDouble / math.max(1L, rows)
    w.extra("pipeline_check") = Map("sessions" -> sessions, "events" -> ev.toString,
      "watermark_delay_ms" -> 10 * 60 * 1000L, "gap_ms" -> 30 * 60 * 1000L)
  }

  /** Traced runs also run the catalog refresh after the stream, so the
    * `etl` and `io` layers are measured; its failures count too. */
  private def catalogLayers(w: Window): Map[String, Any] = h.args.get("movies") match {
    case Some(base) =>
      w.failures ++= new CatalogRefresh(h, base, h.args("movies-more")).run(CatalogCycles)
      Map("etl.run_s" -> Trace.meanSpan("etl.run"),
        "catalog.publish_s" -> Trace.meanSpan("catalog.publish"),
        "io.decode_s" -> Trace.meanSpan("io.decode"))
    case None => Map.empty
  }

  def layers(w: Window): Map[String, Any] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    // progress as the StreamingQueryListener saw it
    val progress = Trace.stream.progress.asScala.toSeq
    def dur(k: String) = mean(progress.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
    val state = progress.flatMap(_.stateOperators.headOption)
    val lag = w.extra.getOrElse("gen_lag_s", Seq.empty[Double]).asInstanceOf[Seq[Double]]
    val stream = Map(
      "log.append_s" -> Trace.meanSpan("log.append"),
      "log.latest_offset_ms" -> dur("latestOffset"),
      "log.get_batch_ms" -> dur("getBatch"),
      "gen.lag_s" -> mean(lag),
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "state.rows" -> (if (state.isEmpty) 0.0 else state.map(_.numRowsTotal).max.toDouble),
      "state.mem_mb" -> (if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max / 1048576.0),
      "state.commit_ms" -> mean(state.map(_.commitTimeMs.toDouble)),
      "state.update_ms" -> mean(state.map(_.allUpdatesTimeMs.toDouble)),
      "state.dropped_late" -> state.map(_.numRowsDroppedByWatermark).sum.toDouble,
      "sink.apply_batch_s" -> Trace.meanSpan("sink.apply_batch"),
      "sink.driver_s" -> Trace.driverSecondsIn("sink.apply_batch"))
    stream ++ catalogLayers(w)
  }

  def inputs: Map[String, Any] = Map("events_fingerprint" -> fingerprint,
    "events" -> total, "event_bytes" -> json.map(_.length.toLong).sum)
}

object Pipeline {
  val TickS = 0.1
  /** Full triggers appended before the query starts. */
  val CatchUpTriggers = 6
  /** Share of `--seconds` the live phase runs. */
  val LiveShare = 0.75
  /** maxRecordsPerTrigger, fixed for every run. */
  val Cap = 4000L
  val CatalogCycles = 3

  private val CountRe = """.*"recordCount"\s*:\s*(\d+).*""".r
  def offsetOf(json: String): Long = json match {
    case CountRe(n) => n.toLong
    case _ => 0L
  }
}
