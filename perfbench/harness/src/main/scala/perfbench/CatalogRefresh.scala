package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable

import graft.etl.{CatalogDiff, MovieCatalogETL}
import graft.io.{ConfluentAvro, InMemorySchemaRegistry}
import org.apache.spark.sql.functions.{col, lit}

/** The reference's catalog refresh: append a block of new items to
  * `Movies.txt`, run the ETL, diff against the ids already decoded from the
  * log, frame the new items as Confluent Avro, write them with the DSv2
  * `graft-log` batch write and read the cycle's frames back. The decoded
  * items must equal the block.
  *
  * The `pipeline` workload runs these cycles after its traced window, so
  * the `etl` and `io` layers are measured per layer; no end-to-end metric
  * covers them (see perfbench/README.md). */
final class CatalogRefresh(h: Harness, baseText: String, moreText: String) {
  import CatalogRefresh._

  private lazy val spark = h.spark
  private lazy val blocks: IndexedSeq[Seq[String]] = {
    val items = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[String]]
    scala.io.Source.fromFile(moreText, "UTF-8").getLines().foreach { l =>
      if (l.startsWith("ITEM ")) items += mutable.ArrayBuffer(l)
      else items.last += l
    }
    items.map(_.toSeq).grouped(BlockItems).map(_.flatten.toSeq).toIndexedSeq
  }

  private val root = h.dir("catalog")
  private val registry = new InMemorySchemaRegistry
  private val published = mutable.LinkedHashSet.empty[String]
  private var logEnd = 0L
  private var next = 0

  private def movies = s"$root/Movies.txt"
  private def logDir = s"$root/log"

  /** Publish the base catalog, then run `cycles` refreshes; returns the
    * failure messages. */
  def run(cycles: Int): Seq[String] = {
    Files.copy(Paths.get(baseText), Paths.get(movies))
    cycle(None)
    (0 until cycles).flatMap { _ =>
      h.clearScratch()
      val block = blocks(next)
      val got = cycle(Some(block))
      next += 1
      if (got.sortBy(_.id) != expected(block).sortBy(_.id))
        Some(s"catalog cycle ${next - 1}: decoded items differ from the new block")
      else None
    }
  }

  /** One refresh; returns the decoded items of this cycle. `block` is
    * appended to the text first. */
  private def cycle(block: Option[Seq[String]]): Seq[Item] = {
    block.foreach(b => Files.write(Paths.get(movies), (b.mkString("\n") + "\n").getBytes(UTF_8),
      StandardOpenOption.APPEND))
    val catalog = Trace.span("etl.run")(MovieCatalogETL.run(spark, movies))
    val drop = h.selftest && next == 1
    Trace.span("catalog.publish") {
      import spark.implicits._
      val fresh = CatalogDiff.newItems(catalog.withColumnRenamed("item_id", "ItemID"),
        published.toSeq.toDF("movie_id"))
      val frames = ConfluentAvro.catalogFramesResolved(CatalogDiff.enrichedEvents(fresh), registry)
      // the gate's self-test drops one block instead of publishing it
      if (!drop)
        frames.select(lit(0L).as("offset"), col("key"), col("value"),
          lit(new java.sql.Timestamp(System.currentTimeMillis())).as("timestamp"))
          .write.format("graft-log").mode("append").save(logDir)
    }
    val decoded = Trace.span("io.decode") {
      val frames = spark.read.format("graft-log")
        .option("startingOffset", logEnd.toString).load(logDir)
      ConfluentAvro.decodeCatalogFrames(frames, registry)
        .select("movie_id", "title", "genre", "list_price").collect()
        .map(r => Item(r.getString(0), r.getString(1), r.getString(2), r.getFloat(3))).toSeq
    }
    logEnd = graft.sources.FileLog.latestOffset(logDir)
    published ++= decoded.map(_.id)
    decoded
  }
}

object CatalogRefresh {
  val BlockItems = 20

  final case class Item(id: String, title: String, genre: String, price: Float)

  /** What the published frames must decode to for a block of new items:
    * the ETL's cleaning rules applied to the block's own lines. */
  def expected(block: Seq[String]): Seq[Item] = {
    val items = mutable.ArrayBuffer.empty[(String, mutable.LinkedHashMap[String, String])]
    block.foreach { l =>
      if (l.startsWith("ITEM ")) items += ((l.stripPrefix("ITEM ").trim, mutable.LinkedHashMap.empty))
      else if (l.contains("=")) {
        // the ETL keeps the text between the first and second `=`
        val parts = l.split("=", -1)
        items.last._2.getOrElseUpdate(parts(0).trim, parts(1).trim)
      }
    }
    items.map { case (id, kv) =>
      val price = kv.get("ListPrice").map { p =>
        val i = p.lastIndexOf('$')
        if (i < 0) 0.0f else try p.substring(i + 1).toFloat catch { case _: NumberFormatException => 0.0f }
      }.getOrElse(0.0f)
      Item(id, kv.getOrElse("Title", MovieCatalogETL.FillTitle),
        kv.getOrElse("Genre", MovieCatalogETL.FillGenre), price)
    }.toSeq
  }
}
