package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Measured state of one window of a workload's loop. */
final class Window {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** The operations per-layer metrics are normalized by, when they are not
    * the latency samples themselves (pipeline: micro-batches, not segments). */
  var layerOps: Option[Seq[Op]] = None
  val failures = mutable.ArrayBuffer.empty[String]
  /** Workload-specific results: throughput base, extra latency series,
    * sizes, files left for the external checks. */
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var seconds = 0.0

  /** Time one operation of kind `kind`. An operation that throws counts
    * as failed and yields None; the loop goes on. */
  def op[T](kind: String)(body: => T): Option[T] = {
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Some(Trace.span(s"op.$kind")(body))
      catch {
        case e: Exception =>
          failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    ops += Op(kind, ms, System.currentTimeMillis(), System.nanoTime() - t0)
    out
  }
}

/** A workload: `prepare` builds fresh fixtures (tables, logs, checkpoints)
  * for one window, `warmup` runs once per process before any timing, `run`
  * is the measured loop, `verify` checks outputs outside the timed window,
  * and `layers` adds the workload's own per-layer metrics to a traced
  * window (still traced, after the shared metrics are taken). */
abstract class Workload(val h: Harness) {
  lazy val spark: SparkSession = h.spark
  def prepare(round: Int): Unit
  def warmup(): Unit
  def run(seconds: Double): Window
  def verify(w: Window): Unit
  def layers(w: Window): Map[String, Any]
  /** Seeded-input fingerprint and sizes. */
  def inputs: Map[String, Any]
}

final class Harness(val args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args.getOrElse("trace", "0") == "1"
  val selftest: Boolean = args.contains("selftest")
  val work: Path = Paths.get(args("work")).toAbsolutePath
  val cores: Int = args.get("cores").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def dir(parts: String*): String = {
    val p = parts.foldLeft(work)(_.resolve(_))
    Files.createDirectories(p)
    p.toString
  }

  def rmrf(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  /** Bytes of every file under `p`. */
  def duBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (!f.exists()) 0L else org.apache.commons.io.FileUtils.sizeOfDirectory(f)
  }

  lazy val spark: SparkSession = graft.Bench.scratchConf(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000"))
    .withExtensions(new graft.plans.GraftExtensions)
    .getOrCreate()

  /** Drop persisted scratch between operations, as the repo's Bench does,
    * so no operation runs against an earlier one's cached residue. */
  def clearScratch(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}

object Harness {

  private def parse(args: Array[String]): Map[String, String] = {
    val out = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        out(k) = args(i + 1); i += 2
      } else { out(k) = "true"; i += 1 }
    }
    out.toMap
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val h = new Harness(parse(argv))
    Trace.runId = s"${h.workload}-${h.seed}"
    h.spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val w: Workload = h.workload match {
      case "analytics" => new Analytics(h)
      case "tables" => new TablesBench(h)
      case "pipeline" => new Pipeline(h)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up is measured once per run: a repeat would rebuild the same
    // fixtures and roughly double the run
    val t0 = System.nanoTime()
    w.prepare(1)
    val prepS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - t1) / 1e9
    val setupS = sessionS + prepS + warmS

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> h.workload, "seed" -> h.seed, "cores" -> h.cores,
      "setup_s" -> setupS,
      "setup_parts" -> Map("session_s" -> sessionS, "prepare_s" -> prepS,
        "warmup_s" -> warmS))

    // outside the timed window, before the next prepare replaces the fixtures
    def verified(win: Window): Window = {
      val v0 = System.nanoTime()
      try w.verify(win)
      catch {
        case e: Exception => win.failures += s"verify: ${e.getMessage}"
      }
      result("verify_s") = (System.nanoTime() - v0) / 1e9
      win
    }

    val win =
      if (!h.traced) verified(w.run(h.seconds))
      else {
        // untraced, traced, untraced, each on fresh fixtures: the tracing
        // overhead compares the traced window with the mean of the two
        // around it, so the JVM warming over the run does not read as a
        // (negative) cost of tracing
        val before = w.run(h.seconds)
        w.prepare(2)
        Trace.attach(h.spark)
        Trace.reset()
        Trace.resetHeapPeak()
        Trace.enabled = true
        val traced = w.run(h.seconds)
        val common = Trace.commonLayers(traced.layerOps.getOrElse(traced.ops.toSeq))
        val layers = common ++ w.layers(traced)
        Trace.enabled = false
        Trace.detach(h.spark)
        result("layers") = layers
        result("self_s") = Trace.selfTimes
        val spans = h.dir("trace")
        Trace.writeSpans(Paths.get(spans, "spans.jsonl"))
        result("spans") = Paths.get(spans, "spans.jsonl").toString
        verified(traced)
        w.prepare(3)
        val after = w.run(h.seconds)
        result("untraced_throughput") =
          Seq(before, after).map(_.extra.getOrElse("throughput", Map.empty))
        traced.failures ++= (before.failures ++ after.failures).map("untraced window: " + _)
        traced
      }
    result("inputs") = w.inputs
    result("window_s") = win.seconds
    result("ops") = win.ops.map(o => Seq(o.kind, o.nanos / 1e9))
    result("failures") = win.failures
    result ++= win.extra
    Files.write(h.work.resolve("result.json"), Json.write(result).getBytes("UTF-8"))
    h.spark.stop()
  }
}
