package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload (or `all`, in order) in this JVM.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --expected FILE --result FILE
  *
  * Closed loop: one caller starts a pass, waits for its result, and
  * starts the next; passes run back to back until `seconds` of pass
  * time have been measured. Set-up (session start, inputs, JIT warm-up)
  * is timed separately. Results go to `--result` as one JSON object per
  * workload; spans of a traced run go next to it.
  */
object Main {
  val Workloads = Seq("crawl_fresh", "crawl_resume", "sql_text", "graph_fixpoint")
  /** Pages-corpus rows of the extraction workloads. */
  val PagesRows = 2000L
  /** Documents of the web graph (the graph queries' frozen hashes hold
    * for this size only). */
  val GraphDocs = 500L
  val InputReps = 3

  final class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => sys.error(s"bad argument ${a.mkString(" ")}")
    }.toMap
    val o = new Opts(m)
    val names = if (o("workload") == "all") Workloads else Seq(o("workload"))
    names.foreach(w => require(Workloads.contains(w), s"unknown workload $w"))
    val cores = Runtime.getRuntime.availableProcessors // nproc
    val work = new java.io.File(o("work")).getAbsolutePath
    val trace = o("trace") == "1"
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val expected = readExpected(o("expected"))
    val results = names.map { w =>
      val run = new Run(w, seed, seconds, trace, cores, s"$work/$w", expected)
      val r = run.go()
      if (trace) {
        val spanFile = o("result").stripSuffix(".json") + s".$w.spans.jsonl"
        run.spans.write(spanFile)
        System.err.println(s"[perfbench] spans written to $spanFile")
      }
      System.err.println(s"[perfbench] $w: ${Json.obj(r)}")
      r
    }
    val out = new java.io.PrintWriter(o("result"), "UTF-8")
    try results.foreach(r => out.println(Json.obj(r))) finally out.close()
  }

  /** `{"web_x": {"rows": n, "hash": "h"}, ...}` → name → (rows, hash). */
  def readExpected(path: String): Map[String, (Long, BigDecimal)] = {
    val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val re = """"(\w+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"(-?\d+)"\s*\}""".r
    re.findAllMatchIn(s).map(x => x.group(1) -> (x.group(2).toLong, BigDecimal(x.group(3)))).toMap
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Peak heap still in use after a collection (the live-set high-water
  * mark), over the garbage collections since `arm`. Sampling raw heap use
  * instead would read the young generation's fill level, which only
  * tracks the heap size. */
final class HeapPeak {
  @volatile private var max = 0L
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, h: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        if (used > max) max = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def arm(): Unit = max = 0L
  def peakMb: Double = max / 1048576.0
}

final class Run(name: String, seed: Long, seconds: Double, trace: Boolean,
                cores: Int, work: String, expected: Map[String, (Long, BigDecimal)]) {
  import Main.median
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcs.map(_.getCollectionTime).sum
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  val spans = new Spans(s"$name-$seed-${System.currentTimeMillis()}")
  private val runStart = System.nanoTime()

  def go(): Map[String, Any] = {
    Files2.delete(work)
    new java.io.File(work).mkdirs()
    spans.around(0, s"run $name")(root => start(root))
  }

  private def start(root: Int): Map[String, Any] = {
    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkTrace = SparkTrace.install(spark)
    val sessionS = secs(tSession)
    try measure(spark, sparkTrace, root, sessionS)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private def measure(spark: SparkSession, sparkTrace: SparkTrace, root: Int,
                      sessionS: Double): Map[String, Any] = {
    val w: Workload = name match {
      case "crawl_fresh"  => new CrawlWorkload(spark, work, Main.PagesRows, seed, resume = false)
      case "crawl_resume" => new CrawlWorkload(spark, work, Main.PagesRows, seed, resume = true)
      case "sql_text"     => new SqlTextWorkload(spark, work, Main.PagesRows, seed)
      case "graph_fixpoint" => new GraphWorkload(spark, work, Main.GraphDocs, seed, expected)
    }
    w match {
      case p: PagesWorkload => sparkTrace.scanTable = new java.io.File(p.table).toURI.toString
      case _ => ()
    }
    // ---- set-up: inputs several times (median), then JIT warm-up
    val inputS = (1 to Main.InputReps).map { k =>
      val t0 = System.nanoTime()
      spans.around(root, s"setup.inputs#$k")(_ => w.inputs())
      secs(t0)
    }
    val manifest = w.manifest()
    val tWarm = System.nanoTime()
    spans.around(root, "setup.warmup")(_ => w.warm())
    val warmS = secs(tWarm)
    val setupS = sessionS + median(inputS) + warmS

    // ---- timed passes, closed loop; traced runs alternate untraced and
    // traced passes so the tracing overhead is measured in-run
    val heap = new HeapPeak
    final case class Pass(wall: Double, cpu: Double, gc: Double, heapMb: Double,
                          traced: Boolean, layers: Map[String, Double])
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    var attempted = 0L
    var failed = 0L
    // traced runs: untraced, traced, untraced at least, so that a warm-up
    // trend across passes cancels out of the tracing overhead; the third
    // pass is dropped when it could push the run past its time limit
    def morePasses: Boolean =
      passes.map(_.wall).sum < seconds || passes.isEmpty ||
        (trace && (passes.size < 2 || (passes.size < 3 && secs(runStart) < 90)))
    while (morePasses) {
      val traced = trace && passes.size % 2 == 1
      w.reset()
      System.gc()
      sparkTrace.reset()
      sparkTrace.on = traced
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcMs
      heap.arm()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      w.run()
      val wall = secs(t0)
      val endMs = System.currentTimeMillis()
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val gc = (gcMs - gc0) / 1e3
      System.gc() // at least one collection inside every pass's window
      Thread.sleep(50) // notifications arrive on the JVM's service thread
      val heapMb = heap.peakMb
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          sparkTrace.drain()
          sparkTrace.on = false
          val pass = spans.add(root, s"pass#${passes.size + 1}", startMs, endMs)
          sparkTrace.jobSpans(spans, pass)
          w.layers(sparkTrace, Window(startMs, endMs, wall, cpu, gc, cores))
        }
      sparkTrace.on = false
      val oc = w.outcome()
      attempted += oc.attempted
      failed += oc.failed
      passes += Pass(wall, cpu, gc, heapMb, traced, layers)
      System.err.println(f"[perfbench] $name pass ${passes.size} wall $wall%.3f s cpu $cpu%.3f s " +
        f"gc $gc%.3f s heap $heapMb%.0f MB traced $traced failed ${oc.failed}/${oc.attempted}")
    }

    val problems = scala.collection.mutable.ArrayBuffer.empty[String] ++= w.verify()

    val plain = passes.filterNot(_.traced)
    val e2e = Map[String, Double](
      "setup_s" -> setupS,
      "wall_s" -> median(plain.map(_.wall).toSeq),
      "cpu_s" -> median(plain.map(_.cpu).toSeq),
      "heap_peak_mb" -> median(plain.map(_.heapMb).toSeq),
      "docs_per_s" -> median(plain.map(p => w.docs / p.wall).toSeq))

    val metrics: Map[String, Double] =
      if (!trace) e2e
      else {
        val traced = passes.filter(_.traced)
        val keys = traced.flatMap(_.layers.keys).distinct
        val layer = keys.map(k => k -> median(traced.map(_.layers.getOrElse(k, 0.0)).toSeq)).toMap
        val sample = w.kernelSample()
        val (kernel, bad) =
          if (sample.isEmpty) (Map.empty[String, Double], Nil)
          else spans.around(root, "kernel.layers")(_ => Kernel.measure(sample, 2.0))
        problems ++= bad.map(id => s"kernel composition differs from PdfExtractor.extract on doc $id")
        layer ++ kernel ++ Map(
          "fail_frac" -> failed.toDouble / math.max(1L, attempted),
          "setup.session_s" -> sessionS,
          "setup.inputs_s" -> median(inputS),
          "setup.warmup_s" -> warmS,
          "trace.overhead_s" -> (median(traced.map(_.wall).toSeq) - e2e("wall_s")))
      }
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED $name: $p"))
    Map("workload" -> name, "correct" -> problems.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics, "manifest" -> manifest,
      "passes" -> passes.size, "problems" -> problems.toSeq)
  }
}
