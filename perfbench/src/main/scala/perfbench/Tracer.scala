package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval. Times are epoch milliseconds (fractional for the
  * benchmark's own spans, whole for Spark's listener events). `parent` is
  * 0 for a request span. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      request: String, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
  def json: Map[String, Any] =
    Map("id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
        "request" -> request, "start_ms" -> start, "end_ms" -> end)
}

/** Per-request task totals from the listener. */
final class TaskTotals {
  var stages = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inRows = 0L; var inBytes = 0L
}

/** The traced run's recorder: a SparkListener and a QueryExecutionListener
  * registered from outside the engine, plus the benchmark's own spans
  * around each request (a query or an ETL verb) and each layer call inside
  * it. Jobs and stages are tied to their request by a local property set
  * on the driver thread; Catalyst phases by time, since requests run one
  * at a time. Spans stay in memory; the run writes them out at its end. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  private val own = mutable.ArrayBuffer[Span]()
  private val jobs = new ConcurrentLinkedQueue[Span]()
  private val phases = new ConcurrentLinkedQueue[Span]()
  private val openJobs = new ConcurrentHashMap[Int, (String, String, Long)]()
  private val stageRequest = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, TaskTotals]()

  private def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private def nextId: Long = ids.incrementAndGet()

  private def requestOf(props: java.util.Properties): String =
    Option(props).map(_.getProperty(Tracer.RequestKey)).orNull

  private def totalsOf(req: String): TaskTotals =
    totals.computeIfAbsent(req, _ => new TaskTotals)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val req = requestOf(e.properties)
      if (req != null) {
        // a job's call site is its last stage's name, e.g. "parquet at Store.scala:52"
        val site = Option(e.properties.getProperty("callSite.short")).getOrElse(
          e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("job"))
        openJobs.put(e.jobId, (req, site, e.time))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { case (req, site, t0) =>
        jobs.add(Span(nextId, 0, site, "exec", req, t0.toDouble, e.time.toDouble))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val req = requestOf(e.properties)
      if (req != null) {
        stageRequest.put(e.stageInfo.stageId, req)
        totalsOf(req).stages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val req = stageRequest.get(e.stageId)
      val m = e.taskMetrics
      if (req != null && m != null) {
        val t = totalsOf(req)
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
        t.inRows += m.inputMetrics.recordsRead
        t.inBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Span(nextId, 0, name, "catalyst", null,
                        p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until every event posted so far has been delivered, then stop
    * listening. */
  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Time `body` as a span and pass it the span's id, for nesting;
    * `request` is the enclosing request id. */
  def span[A](name: String, layer: String, request: String, parent: Long = 0)
             (body: Long => A): (A, Span) = {
    val id = nextId
    val t0 = now
    val prev = sc.getLocalProperty(Tracer.RequestKey)
    sc.setLocalProperty(Tracer.RequestKey, request)
    try {
      val r = body(id)
      val s = Span(id, parent, name, layer, request, t0, now)
      own.synchronized(own += s)
      (r, s)
    } finally sc.setLocalProperty(Tracer.RequestKey, prev)
  }

  /** Everything recorded for the given requests, with each job and
    * Catalyst phase parented to the innermost own span containing it. */
  def view(requests: Seq[Span]): Trace = {
    val reqIds = requests.map(_.request).toSet
    val mine = own.synchronized(own.filter(s => reqIds(s.request)).toSeq)
    val byReq = requests.sortBy(_.start)
    def owner(s: Span): Option[Span] =
      if (s.request != null) byReq.find(_.request == s.request)
      else byReq.find(r => s.start >= r.start - 1 && s.start <= r.end + 1)
    def parented(s: Span): Option[Span] = owner(s).map { r =>
      val inner = mine.filter(c => c.parent == r.id && s.start >= c.start - 1 &&
                                   s.end <= c.end + 1)
      s.copy(request = r.request,
             parent = inner.sortBy(_.seconds).headOption.getOrElse(r).id)
    }
    val listened = (jobs.asScala.toSeq ++ phases.asScala.toSeq).flatMap(parented)
    Trace(requests, mine.filterNot(s => s.parent == 0) ++ listened,
          reqIds.flatMap(r => Option(totals.get(r)).map(r -> _)).toMap)
  }
}

object Tracer {
  val RequestKey = "perfbench.request"
}

/** The spans of a set of requests plus their task totals. */
final case class Trace(requests: Seq[Span], children: Seq[Span],
                       tasks: Map[String, TaskTotals]) {
  def all: Seq[Span] = requests ++ children
  private def sumTasks(f: TaskTotals => Long): Long = tasks.values.map(f).sum

  /** Length of the union of the intervals, in seconds. */
  def unionSeconds(spans: Seq[Span]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    spans.sortBy(_.start).foreach { s =>
      if (curE.isNaN || s.start > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s.start; curE = s.end
      } else curE = math.max(curE, s.end)
    }
    if (!curE.isNaN) total += curE - curS
    total / 1000.0
  }

  def layerJobs: Seq[Span] = children.filter(_.layer == "exec")
  def phasesNamed(n: String): Seq[Span] =
    children.filter(s => s.layer == "catalyst" && s.name == n)

  /** Seconds of each own span's duration not covered by its children,
    * summed by layer. */
  def selfSeconds: Map[String, Double] = {
    val kids = children.groupBy(_.parent)
    all.groupMapReduce(_.layer) { s =>
      math.max(0.0, s.seconds - unionSeconds(kids.getOrElse(s.id, Nil)))
    }(_ + _)
  }

  /** The exec and catalyst metrics every workload reports. */
  def execMetrics(cores: Int): Map[String, Double] = {
    val jobWall = requests.map(r =>
      unionSeconds(layerJobs.filter(_.request == r.request))).sum
    val run = sumTasks(_.runMs) / 1000.0
    Map(
      "exec.jobs" -> layerJobs.size.toDouble,
      "exec.stages" -> sumTasks(_.stages).toDouble,
      "exec.tasks" -> sumTasks(_.tasks).toDouble,
      "exec.job_wall_s" -> jobWall,
      "exec.task_run_s" -> run,
      "exec.task_cpu_s" -> sumTasks(_.cpuNs) / 1e9,
      "exec.slot_utilization" ->
        (if (jobWall > 0) run / (jobWall * cores) else 0.0),
      "exec.shuffle_write_bytes" -> sumTasks(_.shuffleWrite).toDouble,
      "exec.shuffle_read_bytes" -> sumTasks(_.shuffleRead).toDouble,
      "exec.spill_bytes" -> sumTasks(_.spill).toDouble,
      "exec.scan_rows" -> sumTasks(_.inRows).toDouble,
      "exec.scan_bytes" -> sumTasks(_.inBytes).toDouble,
      "catalyst.analysis_s" -> phasesNamed("analysis").map(_.seconds).sum,
      "catalyst.optimization_s" -> phasesNamed("optimization").map(_.seconds).sum,
      "catalyst.planning_s" -> phasesNamed("planning").map(_.seconds).sum)
  }
}
