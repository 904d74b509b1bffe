package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.{PageRow, PagesGen}

/** Seeded inputs for every workload, built on `PagesGen`.
  *
  * The pages corpus is the mixed bench corpus (`PagesGen.benchPayload`
  * with fonts in the path) plus a thin tail of PDFs above the 1 MB
  * heavy threshold and a small share of malformed rows. Row kinds are
  * chosen by `(id + offset) mod 1000`, with the offset drawn from the
  * seed: every seed gives exactly the same count of each kind, at
  * different ids and with different payload bytes.
  */
object Corpus {

  /** Lines of the heavy PDFs: ~250 uncompressed pages, ~1.1 MB, just
    * above `ExtractJob.Config.heavyThresholdBytes` (the kernel stops at
    * 100 pages). */
  val HeavyLines = 10000

  def mix(a: Long, b: Long): Long = {
    var h = a * 0x9e3779b97f4a7c15L + b * 0xc2b2ae3d27d4eb4fL
    h ^= h >>> 31; h *= 0x94d049bb133111ebL; h ^= h >>> 29
    h
  }

  /** null | empty | heavy | corrupt | bigfont | font | base */
  def kind(id: Long, seed: Long): String = {
    val r = java.lang.Math.floorMod(id + java.lang.Math.floorMod(mix(seed, 1L), 1000L), 1000L)
    if (r == 0) "heavy"
    else if (r == 250 || r == 750) "null"
    else if (r == 500) "empty"
    else if (r % 50 == 25) "corrupt"
    else if (id % 16 == 2) "bigfont"
    else if (id % 5 == 1) "font"
    else "base"
  }

  def payload(id: Long, seed: Long): Array[Byte] = kind(id, seed) match {
    case "null"    => null
    case "empty"   => Array.emptyByteArray
    case "heavy"   => PagesGen.longPdf(mix(seed, id), HeavyLines)
    case "corrupt" =>
      PagesGen.killXref(PagesGen.longPdf(mix(seed, id), 40 + (id % 80).toInt))
    case _ => PagesGen.benchPayload(id, seed, "mixed")
  }

  /** The doc id encoded in a `PagesGen.url`. */
  def idOf(url: String): Long = {
    val s = url.lastIndexOf("/doc") + 4
    url.substring(s, url.indexOf('.', s)).toLong
  }

  def pages(spark: SparkSession, n: Long, seed: Long): Dataset[PageRow] = {
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism * 2
    spark.range(0, n, 1, par).mapPartitions { ids =>
      ids.map { id =>
        val p = payload(id: Long, seed)
        val k = if (p != null && graft.pdf.PdfExtractor.isPdf(p)) "pdf" else "html"
        PageRow(PagesGen.url(id, k), new Timestamp(1735689600000L + id * 1000L), p, "", "en")
      }
    }
  }

  /** Corpus manifest: what a later change cannot alter without it
    * showing. Computed from the written table plus the kind function. */
  def manifest(spark: SparkSession, table: String, n: Long, seed: Long,
               heavyThreshold: Long): Map[String, Any] = {
    val r = spark.read.parquet(table).agg(
      count(lit(1)), coalesce(sum(length(col("html"))), lit(0L)),
      count(when(col("url").endsWith(".pdf"), 1)),
      count(when(length(col("html")) > heavyThreshold, 1)),
      count(when(col("html").isNull, 1)),
      count(when(length(col("html")) === 0, 1)),
      coalesce(max(length(col("html"))), lit(0))).collect()(0)
    val corrupt = (0L until n).count(id => kind(id, seed) == "corrupt")
    Map("seed" -> seed, "rows" -> r.getLong(0), "payload_bytes" -> r.getLong(1),
      "pdf_share" -> r.getLong(2).toDouble / r.getLong(0),
      "rows_above_heavy_threshold" -> r.getLong(3),
      "null_html_rows" -> r.getLong(4), "empty_html_rows" -> r.getLong(5),
      "killxref_pdf_rows" -> corrupt, "max_payload_bytes" -> r.getInt(6).toLong)
  }

  /** Web-graph input: a `documents` table of `n` docs (ids 0..n-1) with
    * seeded text. The graph queries derive their edges from doc_id and
    * n alone, so their results depend on n and not on the seed; the
    * seed moves the html the anchor scanner parses. */
  def documents(spark: SparkSession, n: Long, seed: Long, path: String): Unit = {
    import spark.implicits._
    val langs = Array("en", "en", "en", "de", "fr", "es", "zh")
    spark.range(0, n, 1, 4).mapPartitions { ids =>
      ids.map { id =>
        val rnd = new java.util.Random(mix(seed, id))
        val text = (0 until 2 + rnd.nextInt(5))
          .map(_ => PagesGen.sentence(rnd, 6 + rnd.nextInt(10))).mkString(" ")
        (id, text, langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(20)}",
          text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}
