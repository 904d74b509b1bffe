package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.html.BoilerplateStripper
import graft.pdf.PdfExtractor
import graft.spark.{ExtractJob, ExtractText, PagesGen}

/** What one timed pass did, for the failure count. */
final case class Outcome(attempted: Long, failed: Long)

/** A traced pass: its wall-clock window (epoch ms), and its wall, process
  * CPU and GC seconds. */
final case class Window(startMs: Long, endMs: Long, wall: Double, cpu: Double, gc: Double,
                        cores: Int)

/** A workload: inputs built on disk (repeatable, so set-up can be timed
  * several times), a JIT warm-up, an untimed reset before each pass,
  * the timed call, and checks. */
trait Workload {
  def inputs(): Unit
  def manifest(): Map[String, Any]
  def warm(): Unit
  def reset(): Unit
  def run(): Unit
  /** Documents one pass handles, for `docs_per_s`. */
  def docs: Long
  /** Untimed: rows (or queries) the last pass attempted and failed. */
  def outcome(): Outcome
  /** Untimed, traced passes only: per-layer metrics of the last pass. */
  def layers(t: SparkTrace, w: Window): Map[String, Double]
  /** Untimed correctness problems after the timed passes. */
  def verify(): Seq[String]
  /** Driver-side sample for the kernel layer pass (empty: none). */
  def kernelSample(): Seq[(Long, Array[Byte])]
}

object Files2 {
  def delete(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) {
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
    }
  }
  def copy(from: String, to: String): Unit = {
    delete(to)
    val src = new File(from).toPath
    if (Files.exists(src)) Files.walk(src).forEach { p =>
      val d = new File(to).toPath.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }
  def du(p: String): Long = {
    val f = new File(p)
    if (!f.exists()) 0L
    else Files.walk(f.toPath).filter(x => Files.isRegularFile(x))
      .mapToLong(x => Files.size(x)).sum()
  }
}

object Fingerprint {
  /** Order-independent (rows, sum of 64-bit row hashes) of `cols`. */
  def of(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}

/** Shared pages corpus of the extraction workloads. */
abstract class PagesWorkload(spark: SparkSession, work: String, n: Long, seed: Long)
    extends Workload {
  val table = s"$work/pages"
  val cfg = ExtractJob.Config()
  protected var tableBytes = 0L

  def inputs(): Unit = {
    PagesGen.writeBucketed(Corpus.pages(spark, n, seed), table)
    tableBytes = Files2.du(table)
  }

  def manifest(): Map[String, Any] =
    Corpus.manifest(spark, table, n, seed, cfg.heavyThresholdBytes) +
      ("table_bytes" -> tableBytes)

  def pages: DataFrame = PagesGen.readBucketed(spark, table)

  /** Deterministic ~1-in-`stride` sample of ids. */
  def sampleIds(stride: Int, salt: Long): Seq[Long] =
    (0L until n).filter(id => java.lang.Math.floorMod(Corpus.mix(seed + salt, id), stride.toLong) == 0)

  def kernelSample(): Seq[(Long, Array[Byte])] =
    sampleIds(math.max(1, (n / 300).toInt), 7L).map(id => id -> Corpus.payload(id, seed))

  /** Rows of the deterministic ~1/150 output-check sample. */
  protected def sampled = {
    val ids = sampleIds(math.max(1, (n / 150).toInt), 11L)
    regexp_extract(col("url"), "/doc([0-9]+)\\.", 1).cast("long").isin(ids: _*)
  }

  /** Text and markdown of committed rows against a driver-side kernel
    * call on a deterministic sample. */
  protected def checkSample(rows: Seq[Row]): Seq[String] =
    rows.flatMap { r =>
      val url = r.getString(0)
      val id = Corpus.idOf(url)
      val bytes = Corpus.payload(id, seed)
      if (bytes == null || bytes.isEmpty) Nil
      else {
        val (text, md) =
          if (PdfExtractor.isPdf(bytes)) {
            val x = PdfExtractor.extract(bytes, graft.pdf.ConversionOptions(
              maxPages = cfg.maxPages, password = cfg.password))
            (x.text, x.markdown)
          } else {
            val (t, m, _) = BoilerplateStripper.extractAll(bytes)
            (t, m)
          }
        if (r.getString(1) != text || r.getString(2) != md) Seq(s"sample mismatch: $url") else Nil
      }
    }

  /** Counts from Spark's jobs, stages and tasks seen during a pass. */
  protected def sparkWork(t: SparkTrace, w: Window): Map[String, Double] = t.synchronized {
    val ran = t.jobs.flatMap(_.stageIds).distinct.flatMap(t.stages.get).filter(_.startMs >= 0)
    val busiest = ran.sortBy(s => -s.taskMs.sum).headOption
    val skew = busiest.map { s =>
      val d = s.taskMs.sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }.getOrElse(0.0)
    val records = ran.map(_.recordsRead).sum
    val jobsIv = t.jobs.map(j => (j.startMs, j.endMs)).toSeq
    Map(
      "ExtractJob.jobs" -> t.jobs.size.toDouble,
      "ExtractJob.stages" -> ran.size.toDouble,
      "ExtractJob.tasks" -> ran.map(_.taskMs.size).sum.toDouble,
      "ExtractJob.scan_passes" -> t.payloadScans.toDouble,
      "ExtractJob.shuffle_bytes" -> ran.map(_.shuffleWrite).sum.toDouble,
      "ExtractJob.persist_bytes" -> t.persistBytes.toDouble,
      "ExtractJob.task_skew" -> skew,
      "ExtractJob.extracted_per_scanned" -> docs.toDouble / math.max(1L, records),
      "ExtractJob.driver_gap_s" -> ((w.endMs - w.startMs) - Trace.unionMs(jobsIv)) / 1e3,
      "ExtractJob.gc_s" -> w.gc,
      "ExtractJob.core_busy" -> w.cpu / (w.wall * w.cores))
  }
}

/** `ExtractJob.runWithCheckpoint` over the bucketed pages table; each
  * pass starts from an empty checkpoint and output, or (`resume`) from
  * ones pre-seeded with ~90% of the urls. */
class CrawlWorkload(spark: SparkSession, work: String, n: Long, seed: Long,
                    resume: Boolean) extends PagesWorkload(spark, work, n, seed) {
  val out = s"$work/out"
  val ckpt = s"$work/ckpt"
  private val seedOut = s"$work/seed_out"
  private val seedCkpt = s"$work/seed_ckpt"
  private var pass = 0
  private var preseeded = 0L
  private val problems = scala.collection.mutable.LinkedHashSet.empty[String]
  /** url → the status its payload calls for. */
  private var expected: Map[String, String] = null

  private def clear(o: String, c: String): Unit =
    Seq(o, o + ".staging", c, c + ".commitlock").foreach(Files2.delete)

  override def inputs(): Unit = {
    super.inputs()
    expected = null
    if (resume) {
      // ~90% of the urls already extracted and committed
      clear(seedOut, seedCkpt)
      ExtractJob.runWithCheckpoint(spark,
        pages.where(pmod(xxhash64(col("url"), lit(7L)), lit(10)) =!= 0),
        seedOut, seedCkpt, "preseed", cfg)
      preseeded = spark.read.parquet(seedCkpt).count()
    }
  }

  override def manifest(): Map[String, Any] =
    super.manifest() + ("preseeded_rows" -> preseeded)

  def reset(): Unit =
    if (resume) {
      clear(out, ckpt)
      Files2.copy(seedOut, out)
      Files2.copy(seedOut + ".staging", out + ".staging")
      Files2.copy(seedCkpt, ckpt)
    } else clear(out, ckpt)

  def run(): Unit = {
    pass += 1
    ExtractJob.runWithCheckpoint(spark, pages, out, ckpt, s"pass$pass", cfg)
  }

  /** The kernel alone over the corpus twice, then two full passes: C2
    * is still compiling the kernel after two full passes, and the commit
    * path warms on the full passes that end the warm-up. */
  def warm(): Unit = {
    for (_ <- 1 to 2) ExtractJob.extract(pages, cfg).write.format("noop").mode("overwrite").save()
    for (_ <- 1 to 2) { reset(); run() }
  }

  /** Every input url must come out as exactly one checkpoint row with
    * the status its kind calls for. Lost, duplicated and wrongly-failed
    * rows are failures; checkpoint urls outside the input are a broken
    * output. */
  def outcome(): Outcome = {
    if (expected == null)
      expected = pages.select(col("url"),
        when(col("html").isNull || length(col("html")) === 0, "error").otherwise("ok"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val rows = spark.read.parquet(ckpt).select("url", "status").collect()
      .groupBy(_.getString(0))
    val extra = rows.keySet.count(u => !expected.contains(u))
    if (extra > 0) problems += s"$extra checkpoint urls not in the input"
    val failed = expected.count { case (url, want) =>
      rows.get(url) match {
        case Some(Array(r)) => r.getString(1) != want // wrongly failed (or passed)
        case _ => true                                // lost or duplicated
      }
    }
    Outcome(docs, failed)
  }

  def docs: Long = n - preseeded

  def layers(t: SparkTrace, w: Window): Map[String, Double] = {
    val jobs = t.synchronized(t.jobs.toVector)
    def phase(j: t.Job): String = {
      val statusIdx = jobs.indexWhere(x =>
        x.callShort.startsWith("collect at ExtractJob") && !x.callLong.contains("ExtractJob$.heal("))
      if (j.callLong.contains("ExtractJob$.heal(")) "heal"
      else if (j.callShort.startsWith("count at ExtractJob")) "conflict_check"
      else if (j.callShort.startsWith("collect at ExtractJob")) "status_count"
      else if (j.callShort.startsWith("parquet at ExtractJob"))
        if (statusIdx < 0 || jobs.indexOf(j) < statusIdx) "extract_stage" else "ckpt_append"
      else "other"
    }
    val byPhase = jobs.groupBy(phase)
    val phases = Seq("heal", "extract_stage", "conflict_check", "status_count", "ckpt_append", "other")
      .map(p => s"ExtractJob.phase.${p}_s" ->
        Trace.unionMs(byPhase.getOrElse(p, Vector.empty).map(j => (j.startMs, j.endMs))) / 1e3)
    sparkWork(t, w) ++ phases ++ Map(
      "ExtractJob.stored_bytes_per_doc" -> (Files2.du(out) + Files2.du(ckpt)).toDouble / n)
  }

  def verify(): Seq[String] = {
    val outUrls = ExtractJob.readOutput(spark, out).select("url")
    val ckUrls = spark.read.parquet(ckpt).select("url")
    val nOut = outUrls.count()
    val problems = Seq.newBuilder[String] ++= this.problems
    if (nOut != outUrls.distinct().count()) problems += "duplicate urls in the committed output"
    if (nOut != ckUrls.count() || outUrls.exceptAll(ckUrls).count() != 0 ||
        ckUrls.exceptAll(outUrls).count() != 0)
      problems += "committed rows differ from checkpoint rows"
    val rows = ExtractJob.readOutput(spark, out).where(col("status") === "ok" && sampled)
      .select("url", "text", "markdown").collect()
    if (rows.isEmpty) problems += "empty output sample"
    problems ++= checkSample(rows.toSeq)
    if (!resume) {
      // the same corpus through the SQL expression gives the same text
      val crawl = Fingerprint.of(
        ExtractJob.readOutput(spark, out).where(col("status") === "ok"), Seq("url", "text"))
      if (crawl != SqlTextWorkload.fingerprint(spark, table)._1)
        problems += s"crawl_fresh text fingerprint $crawl differs from sql_text's"
    }
    problems.result()
  }
}

object SqlTextWorkload {
  /** ((rows with text, hash of (url, text)), rows whose payload is
    * present but whose text is NULL). */
  def fingerprint(spark: SparkSession, table: String): ((Long, BigDecimal), Long) = {
    ExtractText.register(spark)
    PagesGen.readBucketed(spark, table).createOrReplaceTempView("perfbench_pages")
    val r = spark.sql(
      """SELECT count(t),
        |  coalesce(sum(CASE WHEN t IS NOT NULL THEN CAST(xxhash64(url, t) AS DECIMAL(38,0)) END),
        |    CAST(0 AS DECIMAL(38,0))),
        |  count_if(t IS NULL AND html IS NOT NULL AND length(html) > 0)
        |FROM (SELECT url, html, extract_text(html) AS t FROM perfbench_pages)""".stripMargin)
      .collect()(0)
    ((r.getLong(0), BigDecimal(r.getDecimal(1))), r.getLong(2))
  }
}

/** `SELECT extract_text(html)` over the pages table, folded to an
  * order-independent fingerprint. */
class SqlTextWorkload(spark: SparkSession, work: String, n: Long, seed: Long)
    extends PagesWorkload(spark, work, n, seed) {
  private val prints = scala.collection.mutable.ArrayBuffer.empty[(Long, BigDecimal)]
  private var lastNulls = 0L

  def reset(): Unit = ()
  def run(): Unit = {
    val (fp, nulls) = SqlTextWorkload.fingerprint(spark, table)
    prints += fp
    lastNulls = nulls
  }
  def warm(): Unit = { run(); run(); prints.clear() }
  def docs: Long = n
  def outcome(): Outcome = Outcome(n, lastNulls)
  def layers(t: SparkTrace, w: Window): Map[String, Double] = sparkWork(t, w)

  def verify(): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (prints.distinct.size != 1) problems += s"fingerprint differs between passes: ${prints.distinct}"
    val rows = pages.where(sampled).select(col("url"), ExtractText.of(col("html")).as("t"))
      .where(col("t").isNotNull).collect()
    if (rows.isEmpty) problems += "empty sample"
    problems ++= rows.toSeq.flatMap { r =>
      val bytes = Corpus.payload(Corpus.idOf(r.getString(0)), seed)
      val want = if (PdfExtractor.isPdf(bytes)) PdfExtractor.extract(bytes).text
        else BoilerplateStripper.strip(bytes)
      if (r.getString(1) != want) Seq(s"sample mismatch: ${r.getString(0)}") else Nil
    }
    problems.result()
  }
}

/** The iterative `web_*` queries of `SparkEntry.queries` over a seeded
  * `documents` table, each folded to (rows, hash) and compared with the
  * values frozen in the benchmark directory. */
class GraphWorkload(spark: SparkSession, work: String, n: Long, seed: Long,
                    expected: Map[String, (Long, BigDecimal)]) extends Workload {
  val Queries = Seq("web_pagerank", "web_hits", "web_kcore", "web_scc", "web_crawl_depth",
    "web_hyperball", "web_graph_reorder", "web_spam_mass", "web_trustrank",
    "web_communities", "web_components")
  private val dir = s"$work/graph"
  private var failed = 0L
  private val wrong = scala.collection.mutable.LinkedHashSet.empty[String]
  private val times = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]

  def inputs(): Unit = Corpus.documents(spark, n, seed, s"$dir/documents.parquet")
  def manifest(): Map[String, Any] =
    Map("seed" -> seed, "documents" -> n, "queries" -> Queries)
  def reset(): Unit = { failed = 0; times.clear() }
  /** JIT warm-up on the longest query, about a fifth of a pass: a full
    * cold pass costs about twice a warm one, and the engine paths the
    * queries share (planner, scheduler, codegen) warm on any of them. A
    * longer warm-up does not fit the benchmark's time budget. */
  def warm(): Unit = { reset(); runOne("web_graph_reorder"); reset() }

  def run(): Unit = Queries.foreach(runOne)

  private def runOne(q: String): Unit = {
    val t0 = System.currentTimeMillis()
    try {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val got = Fingerprint.of(df, df.columns.sorted.toSeq)
      if (!expected.get(q).contains(got)) wrong += s"$q: got $got, frozen ${expected.get(q)}"
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $q failed: $e")
    } finally spark.catalog.clearCache()
    times += ((q, t0, System.currentTimeMillis()))
  }

  def docs: Long = n
  def outcome(): Outcome = Outcome(Queries.size, failed)

  def layers(t: SparkTrace, w: Window): Map[String, Double] = {
    val jobs = t.synchronized(t.jobs.toVector)
    val perQuery = times.toSeq.flatMap { case (q, s, e) =>
      val name = q.stripPrefix("web_")
      Seq(s"WebGraph.$name.s" -> (e - s) / 1e3,
        s"WebGraph.$name.jobs" -> jobs.count(j => j.startMs >= s && j.startMs <= e).toDouble)
    }
    val cpuNs = t.synchronized(t.stages.values.map(_.cpuNs).sum)
    val wallMs = w.endMs - w.startMs
    perQuery.toMap ++ Map(
      "WebGraph.driver_gap_s" -> (wallMs - Trace.unionMs(jobs.map(j => (j.startMs, j.endMs)))) / 1e3,
      "WebGraph.task_cpu_share" ->
        cpuNs / 1e6 / (wallMs * w.cores.toDouble))
  }

  def verify(): Seq[String] = wrong.toSeq
  def kernelSample(): Seq[(Long, Array[Byte])] = Nil
}
