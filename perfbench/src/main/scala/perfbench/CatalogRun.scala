package perfbench

import graft.{PlanUtil, Q, SparkEntry}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** A catalog workload: a frozen query list run pass after pass, closed
  * loop, one query at a time.
  *
  *  1. cold pass, in list order: the first execution of every query in
  *     this JVM. It collects each result, and the row count and
  *     order-insensitive hash of each are compared with the expected
  *     values by run.py.
  *  2. warm passes ([[Main.warmLoop]]), each query written to the noop
  *     sink, in an order the seed shuffles anew for every pass.
  *
  * The post-GC heap is sampled after the cold pass and after the last
  * warm one, outside every timed pass.
  */
final class CatalogRun(spark: SparkSession, kv: Map[String, String], cores: Int) {
  import CatalogRun._
  import Main._

  private val data = kv("data")
  private val seed = kv("seed").toLong
  private val seconds = kv("seconds").toDouble
  private val traced = kv("trace") == "1"
  private val names = kv("queries").split(",").toSeq
  private val byName: Map[String, (String, Q)] = SparkEntry.moduleCatalog
    .flatMap { case (m, qs) => qs.map(q => q.name -> (m, q)) }.toMap
  require(names.forall(byName.contains),
    s"unknown queries: ${names.filterNot(byName.contains).mkString(",")}")

  private val tracer = if (traced) Some(new Tracer(spark)) else None
  private val errors = mutable.LinkedHashMap[String, String]()
  private var attempted = 0
  private var failed = 0
  private val checks = mutable.LinkedHashMap[String, Map[String, Any]]()
  private val heapSamples = mutable.ArrayBuffer[Double]()

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  /** One pass over the list. A checking pass collects each result (the
    * collect is timed) and records its row count and hash (untimed); any
    * other pass writes each result to the noop sink. */
  private def pass(p: Int, trace: Option[Tracer], check: Boolean = false): Pass = {
    trace.foreach(_.attach())
    val gc0 = gcSeconds
    val cp0 = PlanUtil.checkpointStats
    val times = mutable.ArrayBuffer[(String, Double)]()
    val requests = mutable.ArrayBuffer[Span]()
    val t0 = System.nanoTime()
    (if (check) names else order(p)).foreach { name =>
      val q = byName(name)._2
      attempted += 1
      try trace match {
        case None if check =>
          val q0 = System.nanoTime()
          val df = q.fn(spark, data)
          val rows = df.collect()
          times += name -> (System.nanoTime() - q0) / 1e9
          checks(name) = rowHash(df.columns.toSeq, rows)
        case None =>
          val q0 = System.nanoTime()
          q.fn(spark, data).write.format("noop").mode("overwrite").save()
          times += name -> (System.nanoTime() - q0) / 1e9
        case Some(t) =>
          val req = s"p$p:$name"
          val (_, s) = t.span(name, "operators", req) { id =>
            val (df, _) = t.span("plan_build", "operators", req, id)(
              _ => q.fn(spark, data))
            df.write.format("noop").mode("overwrite").save()
          }
          requests += s
          times += name -> s.seconds
      } catch {
        case NonFatal(e) =>
          failed += 1
          errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = gcSeconds - gc0
    val cp1 = PlanUtil.checkpointStats
    trace.foreach(_.detach())
    Pass(wall, times.toSeq, requests.toSeq, gc, (cp1._1 - cp0._1, cp1._2 - cp0._2))
  }

  private def layers(p: Pass, t: Tracer): Map[String, Double] = {
    val tr = t.view(p.requests)
    val build = tr.children.filter(_.name == "plan_build")
    val buildIds = build.map(_.id).toSet
    val reqIds = p.requests.map(_.id).toSet
    val execWindow = tr.children.filter(s => reqIds(s.parent))
    val gap = p.requests.map { r =>
      val mine = execWindow.filter(_.request == r.request)
      r.seconds - build.filter(_.request == r.request).map(_.seconds).sum -
        mine.filter(_.layer == "catalyst").map(_.seconds).sum -
        tr.unionSeconds(mine.filter(_.layer == "exec"))
    }.sum
    val moduleOf = p.requests.map(r => r.request -> byName(r.name)._1).toMap
    val perModule = p.requests.groupMapReduce(r => moduleOf(r.request))(_.seconds)(_ + _)
    tr.execMetrics(cores) ++ Map(
      "operators.plan_build_s" -> build.map(_.seconds).sum,
      "operators.eager_jobs" ->
        tr.layerJobs.count(j => buildIds(j.parent)).toDouble,
      "exec.driver_gap_s" -> gap,
      "planutil.checkpoint_s" -> p.checkpoint._1,
      "planutil.checkpoint_calls" -> p.checkpoint._2.toDouble,
      "jvm.gc_s" -> p.gc) ++
      perModule.map { case (m, secs) => s"operators.$m.pass_s" -> secs }
  }

  def run(): Map[String, Any] = {
    val jit0 = jitSeconds
    val cold = pass(0, None, check = true)
    val coldJit = jitSeconds - jit0
    heapSamples += heapAfterGcMb(spark)
    // at least five warm passes, more than --seconds takes on a 4-core
    // host, so every run there makes the same number: the passes keep
    // speeding up, so their mean depends on the count
    val warm = warmLoop(seconds, traced, 5)((p, on) => pass(p, if (on) tracer else None))
    heapSamples += heapAfterGcMb(spark)
    val plain = warm.filterNot(_._2).map(_._1)
    val latencies = plain.flatMap(_.times.map(_._2))
    // per-query warm minimum, the engine's own bench statistic
    def minima(ps: Seq[Pass]) =
      ps.flatMap(_.times).groupMap(_._1)(_._2).map { case (k, v) => k -> v.min }
    val perQuery = minima(plain)

    // pass_s is the mean warm pass: the JIT keeps speeding passes up for
    // over a minute, so a query's minimum is mostly its last pass and swings
    // with that one pass. Over 7 runs on a 4-core host the sum of the minima
    // varied by 0.060 of its mean (coefficient of variation), the mean pass
    // by 0.035.
    val endToEnd = Map(
      "pass_s" -> plain.map(_.wall).sum / plain.size,
      "request_p50_s" -> percentile(latencies, 0.5),
      "request_p90_s" -> percentile(latencies, 0.9),
      "cold_s" -> cold.wall,
      "heap_peak_mb" -> heapSamples.max)
    val perLayer = tracer.map { t =>
      val tracedPasses = warm.filter(_._2).map(_._1)
      val views = tracedPasses.map(x => t.view(x.requests))
      Map("trace_spans" -> views.flatMap(_.all).map(_.json),
          "self_s" -> medians(views.map(_.selfSeconds)),
          "metrics" -> (medians(tracedPasses.map(layers(_, t))) ++ Map(
            "jvm.jit_s" -> coldJit,
            "jvm.code_cache_mb" -> codeCacheMb,
            "artifact_caches.entries" -> graft.ArtifactCaches.entryCount.toDouble,
            "trace.overhead_ratio" ->
              minima(tracedPasses).values.sum / perQuery.values.sum)))
    }
    Map("attempted" -> attempted, "failed" -> failed, "errors" -> errors.toMap,
        "checks" -> checks.toMap, "metrics" -> endToEnd,
        "samples" -> latencies.size, "warm_passes" -> warm.size,
        "pass_walls" -> warm.map(_._1.wall), "heap_samples_mb" -> heapSamples.toSeq,
        "query_cold_s" -> cold.times.toMap, "query_warm_min_s" -> perQuery) ++
      perLayer.map("trace" -> _)
  }
}

object CatalogRun {
  private final case class Pass(wall: Double, times: Seq[(String, Double)],
                                requests: Seq[Span], gc: Double,
                                checkpoint: (Double, Long))
}
