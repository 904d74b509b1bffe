package perfbench

import java.lang.management.ManagementFactory
import graft.html.BoilerplateStripper
import graft.pdf.{ConversionOptions, PdfExtractor, ReadingOrderMode}
import graft.pdf.convert.{Html, Markdown, TextAssembler}
import graft.pdf.doc.{DocExtras, PdfDocument}
import graft.pdf.extract.{ReadingOrder, Rotation, TextExtractor, TextSpan}
import graft.pdf.font.FontCache
import graft.pdf.structure.StructTree

/** Single-threaded traced pass over the extraction kernel: the steps of
  * `PdfExtractor.extract` composed from their public entry points, each
  * timed in thread CPU, and checked against `PdfExtractor.extract` for
  * every sampled document. HTML documents time
  * `BoilerplateStripper.extractAll` as one layer. */
object Kernel {

  val Layers: Seq[String] = Seq("PdfDocument.load_us", "Codecs.decode_us",
    "TextExtractor.vm_us", "ReadingOrder.order_us", "TextAssembler.text_us",
    "Markdown.md_us", "Html.html_us", "DocExtras.title_us",
    "BoilerplateStripper.strip_us")
  private val Load = 0; private val Decode = 1; private val Vm = 2
  private val Order = 3; private val Text = 4; private val Md = 5
  private val HtmlL = 6; private val Title = 7; private val Strip = 8

  private val mx = ManagementFactory.getThreadMXBean

  final class Acc {
    val ns = new Array[Long](Layers.size)
    var docs = 0L
    var pdfs = 0L
    var pages = 0L
    var spans = 0L
  }

  @inline private def timed[A](acc: Acc, layer: Int)(f: => A): A = {
    val t0 = mx.getCurrentThreadCpuTime
    val r = f
    acc.ns(layer) += mx.getCurrentThreadCpuTime - t0
    r
  }

  /** `PdfExtractor.extract(bytes)` with default options, layer by layer. */
  def pdf(bytes: Array[Byte], acc: Acc): graft.pdf.ExtractResult = {
    val opts = ConversionOptions()
    require(opts.markdownMode == ReadingOrderMode.TopToBottomLeftToRight)
    val doc = timed(acc, Load) {
      val d = new PdfDocument(bytes, opts.password)
      d.pages
      d
    }
    val pages = doc.pages.take(opts.maxPages)
    var nSpans = 0
    val texts = Vector.newBuilder[String]
    val mds = Vector.newBuilder[String]
    val htmls = Vector.newBuilder[String]
    pages.foreach { page =>
      // the VM decodes the page content itself; the separate decode
      // measures that share so it can be subtracted from the VM's time
      val dec0 = acc.ns(Decode)
      timed(acc, Decode)(try doc.pageContent(page) catch { case _: Throwable => null })
      val decodeNs = acc.ns(Decode) - dec0
      val raw0 = timed(acc, Vm) {
        try new TextExtractor(doc, opts.spaceInsertionThreshold).extractRaw(page)
        catch { case _: Throwable => Vector.empty[TextSpan] }
      }
      acc.ns(Vm) -= decodeNs
      val (spatial, forText) = timed(acc, Order) {
        val (raw, mediaBox) = Rotation.normalize(raw0, page)
        val spatial = ReadingOrder.mergeAdjacent(
          ReadingOrder.dedup(ReadingOrder.sortSpans(raw, mediaBox)))
        val forText = StructTree.readingOrder(doc, page) match {
          case Some(order) if raw.exists(_.mcid >= 0) =>
            val inOrder = order.toSet
            val byMcid = raw.filter(_.mcid >= 0).groupBy(_.mcid)
            val ordered = order.flatMap(m =>
              byMcid.getOrElse(m, Vector.empty).sortBy(_.sequence))
            val leftovers = spatial.filter(s => s.mcid < 0 || !inOrder.contains(s.mcid))
            ReadingOrder.mergeAdjacent(ordered ++ leftovers)
          case _ => spatial
        }
        (spatial, forText)
      }
      nSpans += forText.size
      texts += timed(acc, Text)(TextAssembler.assemble(forText))
      mds += timed(acc, Md)(Markdown.convertPage(spatial))
      htmls += timed(acc, HtmlL)(Html.convertPage(spatial, preserveLayout = opts.preserveLayout))
    }
    val text = timed(acc, Text)(texts.result().filter(_.nonEmpty).mkString("\n\n"))
    val md = timed(acc, Md)(mds.result().filter(_.nonEmpty).mkString("\n\n---\n\n"))
    val html = timed(acc, HtmlL)(htmls.result().filter(_.nonEmpty).mkString("\n"))
    val title = timed(acc, Title)(DocExtras.docTitle(doc))
    acc.pdfs += 1
    acc.pages += pages.size
    acc.spans += nSpans
    graft.pdf.ExtractResult(text, md, html, title, pages.size, nSpans)
  }

  /** One pass over the sample; returns the ids whose composed result
    * differs from `PdfExtractor.extract` when `check` is set. */
  def pass(sample: Seq[(Long, Array[Byte])], acc: Acc, check: Boolean): Seq[Long] = {
    val bad = Seq.newBuilder[Long]
    sample.foreach { case (id, bytes) =>
      if (bytes != null && bytes.nonEmpty) {
        acc.docs += 1
        if (PdfExtractor.isPdf(bytes)) {
          val r = try Some(pdf(bytes, acc)) catch { case _: Throwable => None }
          if (check) {
            val ref = try Some(PdfExtractor.extract(bytes)) catch { case _: Throwable => None }
            if (r != ref) bad += id
          }
        } else timed(acc, Strip)(BoilerplateStripper.extractAll(bytes))
      }
    }
    bad.result()
  }

  /** Warm passes, then measured passes for at least `seconds`; per-doc
    * thread-CPU µs per layer plus the FontCache hit ratio over the
    * measured passes. */
  def measure(sample: Seq[(Long, Array[Byte])], seconds: Double): (Map[String, Double], Seq[Long]) = {
    val bad = pass(sample, new Acc, check = true)
    pass(sample, new Acc, check = false)
    val acc = new Acc
    val h0 = FontCache.hits
    val m0 = FontCache.misses
    val t0 = System.nanoTime()
    var reps = 0
    while (reps < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass(sample, acc, check = false)
      reps += 1
    }
    val lookups = (FontCache.hits - h0) + (FontCache.misses - m0)
    val perDoc = Layers.indices.map(i => Layers(i) -> acc.ns(i) / 1e3 / acc.docs).toMap
    (perDoc ++ Map(
      "Kernel.total_us" -> acc.ns.sum / 1e3 / acc.docs,
      "FontCache.hit_ratio" ->
        (if (lookups == 0) 0.0 else (FontCache.hits - h0).toDouble / lookups),
      "PdfExtractor.pages_per_doc" -> acc.pages.toDouble / math.max(1L, acc.pdfs),
      "PdfExtractor.spans_per_doc" -> acc.spans.toDouble / math.max(1L, acc.pdfs)),
      bad)
  }
}
