package perfbench

import scala.collection.mutable

import graft.ops.{Maintenance, TableManifest}
import graft.streaming.ManifestAppendSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `tables`: one client runs a seeded stream of manifest-table operations
  * over six tables published from the seeded `orders`, visiting the tables
  * round-robin. The stream is made of cycles that hold every kind once —
  * append, point lookup, range read, time travel, erase, upsert, update and
  * `Maintenance.run` — in an order the seed shuffles. Six tables exceed the
  * manifest's default 4-entry snapshot cache.
  *
  * Every write op is logged with its parameters and the version it
  * committed; the external check replays that log over the same `orders`
  * and compares the replay with `readTable` and sampled `readTableAt`
  * dumps. Rows an op writes are a pure function of the key (and a salt for
  * upserts), so the replay rebuilds them without reading the tables. */
final class TablesBench(h: Harness) extends Workload(h) {
  import TablesBench._

  private val orders = h.args("data") + "/orders.parquet"
  private val rng = new scala.util.Random(h.seed)
  private var root = ""
  private def tdir(t: Int) = s"$root/t$t"

  // per-table live key sets (to draw lookups, erases and upserts from)
  private val live = Array.fill(Tables)(mutable.ArrayBuffer.empty[Long])
  private val liveIdx = Array.fill(Tables)(mutable.HashMap.empty[Long, Int])
  private val nextKey = Array.tabulate(Tables)(t => NewKeyBase + t.toLong)
  private val batchIds = Array.fill(Tables)(0L)
  // versions time travel may visit: committed since the last vacuum
  private val versions = Array.fill(Tables)(mutable.ArrayBuffer.empty[Long])
  private val log = mutable.ArrayBuffer.empty[Map[String, Any]]
  // (files pruning kept, head files) per traced lookup
  private val pruning = mutable.ArrayBuffer.empty[(Int, Int)]
  private var cycle: IndexedSeq[String] = Kinds

  private def addLive(t: Int, k: Long): Unit =
    if (!liveIdx(t).contains(k)) { liveIdx(t)(k) = live(t).size; live(t) += k }
  private def removeLive(t: Int, k: Long): Unit = liveIdx(t).remove(k).foreach { i =>
    val last = live(t).remove(live(t).size - 1)
    if (last != k) { live(t)(i) = last; liveIdx(t)(last) = i }
  }
  private def pickLive(t: Int, n: Int): Seq[Long] =
    Seq.fill(n)(live(t)(rng.nextInt(live(t).size))).distinct

  def prepare(round: Int): Unit = {
    root = h.dir(s"tables-$round")
    val src = ordersDf
    // the six publishes are independent: submit them together so set-up
    // does not serialize six chains of small jobs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Tables)
    try {
      (0 until Tables).map { t =>
        pool.submit(() => {
          val d = tdir(t)
          TableManifest.publish(src.filter(col("o_orderkey") % Tables === t)
            .repartitionByRange(FilesPerTable, col("o_orderkey")), d)
          TableManifest.analyze(spark, d, Seq(Key))
          TableManifest.analyzeBloom(spark, d, Key)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    // op-generation state starts over with the fresh tables
    val keys = src.select(Key).collect().map(_.getLong(0))
    (0 until Tables).foreach { t =>
      live(t).clear(); liveIdx(t).clear(); versions(t).clear()
      nextKey(t) = NewKeyBase + t; batchIds(t) = 0L
    }
    keys.foreach(k => addLive((k % Tables).toInt, k))
    (0 until Tables).foreach(t => versions(t) += head(t))
    log.clear()
    pruning.clear()
    rng.setSeed(h.seed)
  }

  // the generated file carries zone-less timestamps; the tables keep
  // session-zoned ones, as the rows appended later do
  private def ordersDf: DataFrame =
    spark.read.parquet(orders).withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))

  private def head(t: Int): Long =
    TableManifest.readHead(spark, tdir(t)).map(_._1).getOrElse(0L)

  /** Rows for `keys`, as the replay computes them. */
  private def rows(keys: Seq[Long], salt: Long): DataFrame = {
    import spark.implicits._
    val k = col("o_orderkey")
    keys.toDF("o_orderkey").select(
      k,
      (k % 15000L).as("o_custkey"),
      element_at(array(Status.map(lit): _*), (k % 3L).cast("int") + 1).as("o_orderstatus"),
      ((k % 100000L).cast("double") / 100.0 + lit(salt.toDouble)).as("o_totalprice"),
      timestamp_micros(lit(Epoch1995Us) + (k % 2400L) * lit(DayUs)).as("o_orderdate"),
      element_at(array(Priority.map(lit): _*), (k % 5L).cast("int") + 1).as("o_orderpriority"))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def warmup(): Unit = {
    // every op kind once on a scratch table, so plans are compiled and
    // classes loaded before the timed loop; the table is then discarded
    val saved = root
    root = h.dir("tables-warmup")
    val src = ordersDf.filter(col("o_orderkey") < 3000)
    TableManifest.publish(src.repartitionByRange(2, col("o_orderkey")), tdir(0))
    TableManifest.analyze(spark, tdir(0), Seq(Key))
    TableManifest.analyzeBloom(spark, tdir(0), Key)
    ManifestAppendSink.applyBatch(rows(Seq(NewKeyBase), 0), 0, tdir(0), Seq(Key))
    noop(TableManifest.readTableWhereEq(spark, tdir(0), Key, Seq(1L, 2L)))
    noop(TableManifest.readTableRange(spark, tdir(0), Key, 10L, 500L))
    noop(TableManifest.readTableAt(spark, tdir(0), 1L))
    TableManifest.eraseWhereEq(spark, tdir(0), Key, Seq(5L))
    TableManifest.mergeByKey(spark, tdir(0), Key, rows(Seq(7L, NewKeyBase + 6), 1))
    TableManifest.updateWhere(spark, tdir(0), Seq("o_totalprice" -> (col("o_totalprice") + 1.0)),
      Some(col(Key).between(100L, 200L)), Seq((Key, 100L, 200L)))
    maintain(tdir(0))
    h.rmrf(root)
    root = saved
  }

  private def maintain(d: String): Unit =
    Maintenance.run(spark, d, statsCols = Seq(Key), bloomCol = Some(Key),
      targetBytes = CompactTargetBytes, minFileBytes = CompactMinBytes, graceMillis = 0L)

  def run(seconds: Double): Window = {
    val w = new Window
    val t0 = System.nanoTime()
    var i = 0
    // whole cycles only, so every kind is timed equally often
    do {
      if (i % Kinds.size == 0) cycle = rng.shuffle(Kinds)
      step(w, i)
      i += 1
    } while ((System.nanoTime() - t0) / 1e9 < seconds || i % Kinds.size != 0)
    w.seconds = (System.nanoTime() - t0) / 1e9
    w.extra("throughput") = Map("count" -> w.ops.size, "seconds" -> w.seconds)
    w
  }

  /** One op: the kind comes from the current cycle, the table from
    * round-robin, and the keys and ranges from the seeded generator. */
  private def step(w: Window, i: Int): Unit = {
    val t = i % Tables
    val d = tdir(t)
    def logged(kind: String, params: Map[String, Any]): Unit = {
      val v = head(t)
      versions(t) += v
      log += (Map("i" -> i, "table" -> t, "kind" -> kind, "version" -> v) ++ params)
    }
    def fresh(n: Int): Seq[Long] = {
      val keys = Seq.tabulate(n)(j => nextKey(t) + j.toLong * Tables)
      nextKey(t) += n.toLong * Tables
      keys
    }
    cycle(i % Kinds.size) match {
      case "maintenance" =>
        w.op("maintenance")(Trace.span("manifest.maintenance")(maintain(d)))
        // vacuum (grace 0) reclaimed the files only older versions
        // listed: time travel stays at or above the new head
        versions(t).clear()
        versions(t) += head(t)
      case "append" =>
        val keys = fresh(AppendRows)
        val b = batchIds(t)
        batchIds(t) += 1
        w.op("append")(Trace.span("manifest.append")(
          ManifestAppendSink.applyBatch(rows(keys, 0), b, d, Seq(Key))))
        keys.foreach(addLive(t, _))
        logged("append", Map("keys" -> keys, "salt" -> 0))
      case "lookup" =>
        val keys = pickLive(t, 4)
        w.op("lookup")(Trace.span("manifest.lookup")(
          noop(TableManifest.readTableWhereEq(spark, d, Key, keys))))
        if (Trace.enabled) {
          val kept = TableManifest.prunedFilesEq(spark, d, Key, keys).size
          val files = TableManifest.readHead(spark, d).map(_._2.size).getOrElse(0)
          pruning += ((kept, files))
        }
      case "range" =>
        val lo = live(t)(rng.nextInt(live(t).size))
        w.op("range")(Trace.span("manifest.range")(
          noop(TableManifest.readTableRange(spark, d, Key, lo, lo + RangeWidth))))
      case "time_travel" =>
        val vs = versions(t)
        val v = vs(math.max(0, vs.size - 1 - rng.nextInt(4)))
        w.op("time_travel")(Trace.span("manifest.time_travel")(
          noop(TableManifest.readTableAt(spark, d, v))))
      case "erase" =>
        val keys = pickLive(t, 3)
        w.op("erase")(Trace.span("manifest.erase")(
          TableManifest.eraseWhereEq(spark, d, Key, keys)))
        keys.foreach(removeLive(t, _))
        logged("erase", Map("keys" -> keys))
      case "merge" =>
        val inserts = fresh(MergeRows / 2)
        val keys = (pickLive(t, MergeRows / 2) ++ inserts).distinct
        w.op("merge")(Trace.span("manifest.merge")(
          TableManifest.mergeByKey(spark, d, Key, rows(keys, i.toLong))))
        inserts.foreach(addLive(t, _))
        logged("merge", Map("keys" -> keys, "salt" -> i))
      case "update" =>
        val lo = live(t)(rng.nextInt(live(t).size))
        val hi = lo + UpdateWidth
        w.op("update")(Trace.span("manifest.update")(
          TableManifest.updateWhere(spark, d, Seq("o_totalprice" -> (col("o_totalprice") + 1.0)),
            Some(col(Key).between(lo, hi)), Seq((Key, lo, hi)))))
        logged("update", Map("lo" -> lo, "hi" -> hi))
    }
  }

  def verify(w: Window): Unit = {
    val check = h.dir("check-tables")
    var liveRows = 0L
    val sampled = mutable.ArrayBuffer.empty[Map[String, Any]]
    (0 until Tables).foreach { t =>
      val d = tdir(t)
      val headDump = s"$check/t$t-head"
      TableManifest.readTable(spark, d).write.mode("overwrite").parquet(headDump)
      liveRows += spark.read.parquet(headDump).count()
      sampled += Map("table" -> t, "version" -> head(t), "path" -> headDump)
      // one earlier version that vacuum has not reclaimed yet
      val older = versions(t).filter(_ != head(t)).distinct
      new scala.util.Random(h.seed + t).shuffle(older.toSeq).take(1).foreach { v =>
        val p = s"$check/t$t-v$v"
        TableManifest.readTableAt(spark, d, v).write.mode("overwrite").parquet(p)
        sampled += Map("table" -> t, "version" -> v, "path" -> p)
      }
    }
    val bytes = h.duBytes(root)
    w.extra("bytes_per_row") = bytes.toDouble / math.max(1L, liveRows)
    w.extra("tables_check") = Map("orders" -> orders, "tables" -> Tables,
      "op_log" -> log.toSeq, "dumps" -> sampled.toSeq)
    w.extra("sizes") = Map(
      "tables" -> Tables, "snapshot_cache_entries" -> 4,
      "commits_per_table" -> (0 until Tables).map(head),
      "checkpoint_interval" -> 8, "live_rows" -> liveRows, "table_bytes" -> bytes)
  }

  def layers(w: Window): Map[String, Any] = {
    val pr = pruning.toSeq
    // every op here is a manifest call, so its driver time is the op's gap
    val opsDriver = w.ops.map(o => Trace.jobs.gapMs(o.startMs, o.endMs) / 1000.0)
    Map(
      "manifest.append_s" -> Trace.meanSpan("manifest.append"),
      "manifest.lookup_s" -> Trace.meanSpan("manifest.lookup"),
      "manifest.range_s" -> Trace.meanSpan("manifest.range"),
      "manifest.time_travel_s" -> Trace.meanSpan("manifest.time_travel"),
      "manifest.erase_s" -> Trace.meanSpan("manifest.erase"),
      "manifest.merge_s" -> Trace.meanSpan("manifest.merge"),
      "manifest.update_s" -> Trace.meanSpan("manifest.update"),
      "manifest.maintenance_s" -> Trace.meanSpan("manifest.maintenance"),
      "manifest.driver_s" -> (if (opsDriver.isEmpty) 0.0 else opsDriver.sum / opsDriver.size),
      "manifest.files_kept_ratio" ->
        (if (pr.isEmpty) 0.0 else pr.map(_._1).sum.toDouble / math.max(1, pr.map(_._2).sum)),
      "manifest.head_files" ->
        (0 until Tables).map(t => TableManifest.readHead(spark, tdir(t)).map(_._2.size).getOrElse(0)).sum
          .toDouble / Tables,
      "manifest.versions" -> (0 until Tables).map(head).sum.toDouble / Tables)
  }

  def inputs: Map[String, Any] = Map("tables" -> Tables, "files_per_table" -> FilesPerTable)
}

object TablesBench {
  val Tables = 6
  val FilesPerTable = 8
  val Key = "o_orderkey"
  /** The op kinds, each once per cycle. No workload the repo serves fixes a
    * mix of manifest operations, so none is weighted above another. */
  val Kinds: IndexedSeq[String] = IndexedSeq("append", "lookup", "range", "time_travel",
    "erase", "merge", "update", "maintenance")
  val AppendRows = 200
  val MergeRows = 50
  val RangeWidth = 600L
  val UpdateWidth = 300L
  val CompactTargetBytes: Long = 64L << 10
  val CompactMinBytes: Long = 32L << 10
  val NewKeyBase = 1000000L
  val Epoch1995Us = 788918400000000L
  val DayUs = 86400000000L
  val Status = Seq("F", "O", "P")
  val Priority = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
}
