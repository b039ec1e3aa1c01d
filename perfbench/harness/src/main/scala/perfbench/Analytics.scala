package perfbench

/** `analytics`: one client runs a pinned list of read-only suite queries
  * back to back over the seeded star schema, each writing its full result
  * to the `noop` sink. Planning, compute and shuffle do all the work; the
  * manifest, streaming and graft-log layers do none.
  *
  * The warm-up pass writes every query's full result as parquet under
  * `results/<query>`; the external check hash-compares those against the
  * query's DuckDB oracle SQL. */
final class Analytics(h: Harness) extends Workload(h) {

  private val data = h.args("data")
  private val names: Seq[String] = h.args("queries").split(",").toSeq.filter(_.nonEmpty)
  private val fns = {
    val all = graft.SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    names.map(n => n -> all(n))
  }

  /** The inputs are generated before the harness starts; the warm-up pass
    * loads the tables. */
  def prepare(round: Int): Unit = ()

  /** One pass writes each full result for the oracle check; `WarmPasses`
    * more run exactly as timed. With fewer the JIT is still compiling when
    * timing starts, and a run's figures depend on how far it got. */
  def warmup(): Unit = {
    var t0 = System.nanoTime()
    fns.foreach { case (name, fn) =>
      h.clearScratch()
      fn(spark, data).write.mode("overwrite").parquet(h.dir("results", name))
    }
    warmPassS += (System.nanoTime() - t0) / 1e9
    (1 to Analytics.WarmPasses).foreach { _ =>
      t0 = System.nanoTime()
      fns.foreach { case (_, fn) =>
        h.clearScratch()
        noop(fn(spark, data))
      }
      warmPassS += (System.nanoTime() - t0) / 1e9
    }
  }

  /** Seconds per warm-up pass, the result-writing one first. */
  private val warmPassS = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(seconds: Double): Window = {
    val w = new Window
    val t0 = System.nanoTime()
    // whole passes only, so every query is equally represented
    do {
      fns.foreach { case (name, fn) =>
        h.clearScratch()
        spark.sparkContext.setJobDescription(s"perfbench:$name")
        w.op(name)(noop(Trace.span("queries.build")(fn(spark, data))))
      }
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    w.seconds = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setJobDescription(null)
    w.extra("throughput") = Map("count" -> w.ops.size, "seconds" -> w.seconds)
    if (h.args.contains("count-mode")) w.extra("count_vs_noop") = countVsNoop()
    w
  }

  /** One pass timed under `.count()` beside one under the noop sink — the
    * repo's Bench times `.count()`, which lets Catalyst prune the work the
    * full result needs. */
  private def countVsNoop(): Map[String, Any] = {
    def pass(act: org.apache.spark.sql.DataFrame => Unit): Map[String, Double] =
      fns.map { case (name, fn) =>
        h.clearScratch()
        val t0 = System.nanoTime()
        act(fn(spark, data))
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    val count = pass(_.count())
    val full = pass(noop)
    Map("count_total_s" -> count.values.sum, "noop_total_s" -> full.values.sum,
      "count_s" -> count, "noop_s" -> full)
  }

  def verify(w: Window): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val sql = names.map(n => n -> oracle.getOrElse(n, sys.error(s"$n has no oracle SQL"))).toMap
    val path = java.nio.file.Paths.get(h.dir("results"), "oracle_sql.json")
    java.nio.file.Files.write(path, Json.write(sql).getBytes("UTF-8"))
    w.extra("analytics_check") = Map("results" -> h.dir("results"), "data" -> data,
      "oracle_sql" -> path.toString)
  }

  def layers(w: Window): Map[String, Any] = Map.empty

  def inputs: Map[String, Any] = Map("queries" -> names.size, "warm_pass_s" -> warmPassS.toSeq)
}

object Analytics {
  val WarmPasses = 3
}
