package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval with a parent, all spans of one run
  * sharing `runId`. Times are epoch milliseconds (Spark's event clock). */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
                      endMs: Long, attrs: Map[String, Any] = Map.empty)

/** In-memory span recorder, written once when the benchmark ends. */
final class Spans(val runId: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 1

  def add(parent: Int, name: String, startMs: Long, endMs: Long,
          attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = next; next += 1
    buf += Span(id, parent, name, startMs, endMs, attrs)
    id
  }

  /** Time `f` as a span; returns (result, span id). */
  def around[A](parent: Int, name: String)(f: Int => A): A = {
    val id = synchronized { val i = next; next += 1; i }
    val t0 = System.currentTimeMillis()
    val r = f(id)
    synchronized { buf += Span(id, parent, name, t0, System.currentTimeMillis()) }
    r
  }

  def all: Seq[Span] = synchronized(buf.toVector)

  /** Self time: duration minus the part its children cover. */
  def selfMs(s: Span): Long = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startMs max s.startMs, k.endMs min s.endMs))
    (s.endMs - s.startMs) - Trace.unionMs(kids)
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj(Map("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> selfMs(s)) ++ s.attrs))
    } finally w.close()
  }
}

object Trace {
  /** Length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark jobs, stages and tasks seen on the public listener bus while
  * `on` is set, plus local file bytes read. A job is attributed to the
  * call site of the SQL execution that ran it (jobs AQE submits from its
  * own threads carry no user frames of their own). */
final class SparkTrace extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val stageIds: Seq[Int],
                  stageShort: String, stageLong: String, val execId: Long) {
    @volatile var endMs: Long = -1L
    def callShort: String = execs.get(execId).map(_._1).getOrElse(stageShort)
    def callLong: String = execs.get(execId).map(_._2).getOrElse(stageLong)
  }
  final class Stage(val id: Int, val name: String) {
    var startMs = -1L
    var endMs = -1L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var cpuNs = 0L
    var recordsRead = 0L
    var shuffleWrite = 0L
  }

  @volatile var on = false
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.HashMap.empty[Int, Stage]
  private val blocks = mutable.HashMap.empty[String, Long]
  private val execs = mutable.HashMap.empty[Long, (String, String)]
  private val cached = mutable.Set.empty[AnyRef]
  /** Directory of the table whose payload scans `payloadScans` counts. */
  @volatile var scanTable: String = null
  /** Scans of `scanTable`'s `html` column in the plans executed while
    * tracing; a cached plan counts once. Bytes read cannot stand in for
    * this: parquet's vectored reads bypass the filesystem statistics. */
  var payloadScans = 0
  private var queriesSeen = 0

  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); blocks.clear(); execs.clear(); cached.clear()
    payloadScans = 0
  }

  private def scans(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec =>
      if (scanTable != null && f.requiredSchema.fieldNames.contains("html") &&
          f.relation.location.rootPaths.exists(_.toString.contains(scanTable))) 1 else 0
    case m: InMemoryTableScanExec =>
      if (cached.add(m.relation.cacheBuilder)) scans(m.relation.cachedPlan) else 0
    case other => other.children.map(scans).sum
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) SparkTrace.this.synchronized {
        queriesSeen += 1
        payloadScans += scans(qe.executedPlan)
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if on => synchronized {
      execs(x.executionId) = (x.description, x.details)
    }
    case _ => ()
  }

  /** Bytes of cached (RDD) blocks stored while tracing. */
  def persistBytes: Long = synchronized(blocks.values.sum)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    e.stageInfos.foreach(s => stages.getOrElseUpdate(s.stageId, new Stage(s.stageId, s.name)))
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
      .orElse(Option(p.getProperty("spark.sql.execution.id")))).map(_.toLong).getOrElse(-1L)
    jobs += new Job(e.jobId, e.time, e.stageIds,
      last.map(_.name).getOrElse(""), last.map(_.details).getOrElse(""), exec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.startMs = e.stageInfo.submissionTime.getOrElse(-1L)
      s.endMs = e.stageInfo.completionTime.getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.recordsRead += m.inputMetrics.recordsRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (on) synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks(b.blockId.name) = b.memSize + b.diskSize
  }

  /** Wait until every job started while tracing has been seen to end
    * (the bus delivers asynchronously; a job's end is posted before its
    * caller returns). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (synchronized(jobs.exists(_.endMs < 0)) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    // trailing stage, block and query-execution events of the last job
    var seen = -1
    while (synchronized(queriesSeen) != seen && System.currentTimeMillis() < deadline) {
      seen = synchronized(queriesSeen)
      Thread.sleep(100)
    }
  }

  def jobSpans(spans: Spans, parent: Int): Unit = synchronized {
    jobs.foreach { j =>
      val jid = spans.add(parent, s"spark.job ${j.callShort}", j.startMs, j.endMs,
        Map("job_id" -> j.id))
      j.stageIds.flatMap(stages.get).filter(_.startMs >= 0).foreach { s =>
        spans.add(jid, s"spark.stage ${s.name}", s.startMs, s.endMs,
          Map("stage_id" -> s.id, "tasks" -> s.taskMs.size))
      }
    }
  }
}

object SparkTrace {
  def install(spark: org.apache.spark.sql.SparkSession): SparkTrace = {
    val t = new SparkTrace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.planListener)
    t
  }
}
