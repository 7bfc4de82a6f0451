package perfbench

import graft.pipeline.{Authz, Dictionary, Etl, JobRunner}
import graft.plans.SchemaFlattener
import graft.sources.{Ndjson, ZipNdjson}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.ZipFile
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The ETL job workload: `JobRunner` cycles of put (with its automatic
  * snapshot), get (snapshot zip) and delete over one generated FHIR study,
  * closed loop, one verb at a time.
  *
  * The first cycle is the cold one and carries the untimed checks: the
  * snapshot that get exports must hash-equal the study's resources, and
  * after every delete no store may keep a partition of the project. Warm
  * cycles follow ([[Main.warmLoop]]). The post-GC heap is sampled after
  * the cold cycle and after the last warm one, outside every timed verb.
  * A traced run also times the sources and plans layers on their own at
  * the end.
  */
final class EtlRun(spark: SparkSession, kv: Map[String, String], cores: Int) {
  import EtlRun._
  import Main._

  private val seconds = kv("seconds").toDouble
  private val traced = kv("trace") == "1"
  private val study = kv("study")
  private val projectId = kv("project")
  private val (program, project) = Authz.splitProjectId(projectId)
  private val work = kv("work")
  private val storeRoot = s"$work/store"
  private val exportDir = s"$work/export"
  private val types = Seq("ResearchStudy", "Patient", "Observation", "DocumentReference")
  private val storeNames = Seq("fhir_raw", "vertices", "edges", "flat_patient",
    "flat_observation", "flat_file", "discovery")

  private val user = Authz.UserProfile("bench@example.org",
    Set(s"/programs/$program", s"/programs/$program/projects"),
    Map(s"/programs/$program/projects/$project" ->
      Seq(Authz.Grant("create", "*"), Authz.Grant("read-storage", "*"))))

  // JobRunner names the snapshot zip by calling its clock after the
  // export and before zipping: the call time splits get into its two parts
  @volatile private var clockCalled = 0.0
  private val runner = new JobRunner(new Etl(storeRoot), () => {
    clockCalled = System.nanoTime() / 1e6
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss")
      .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))
  })

  private val tracer = if (traced) Some(new Tracer(spark)) else None
  private val errors = mutable.ArrayBuffer[String]()
  private var attempted = 0
  private var failed = 0
  private val heapSamples = mutable.ArrayBuffer[Double]()

  private def envelope(method: String): String =
    s"""{"method":"$method","project_id":"$projectId","push":{"commits":""" +
    s"""[{"object_id":"o1","commit_id":"c1","meta_path":"$study"}]}}"""

  private def verb(method: String, req: String, trace: Option[Tracer]): Verb = {
    attempted += 1
    val t0 = System.nanoTime()
    val (result, span) = trace match {
      case None => (runner.run(spark, envelope(method), user, exportDir), None)
      case Some(t) =>
        val (r, s) = t.span(method, "pipeline", req)(
          _ => runner.run(spark, envelope(method), user, exportDir))
        (r, Some(s))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // JobRunner keeps delete failures in its logs rather than raising
    result.get("logs").toSeq.flatMap(_.asInstanceOf[Seq[String]])
      .find(_.contains("An Exception Occurred"))
      .foreach { line => failed += 1; errors += s"$method: $line" }
    Verb(wall, result, span, clockCalled, t0 / 1e6)
  }

  private def cycle(c: Int, trace: Option[Tracer]): Cycle = {
    trace.foreach(_.attach())
    val gc0 = gcSeconds
    val put = verb("put", s"c$c:put", trace)
    val get = verb("get", s"c$c:get", trace)
    val delete = verb("delete", s"c$c:delete", trace)
    val gc = gcSeconds - gc0
    trace.foreach(_.detach())
    val left = leftovers()
    clearScratch()
    Cycle(put, get, delete, gc, left)
  }

  /** Partition directories of the project still present in any store. */
  private def leftovers(): Seq[String] = storeNames.flatMap { s =>
    Option(new File(storeRoot, s).listFiles()).toSeq.flatten
      .filter(_.getName == s"project_id=$projectId").map(_.getPath)
  }

  /** Snapshot zips and the export staging directories JobRunner leaves in
    * the temporary directory; removed between cycles, untimed. */
  private def clearScratch(): Unit = {
    Gen.deleteTree(Paths.get(exportDir))
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("export")).foreach(f => Gen.deleteTree(f.toPath))
  }

  private def treeStats(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally s.close()
    }
  }

  private def typedHash(df: DataFrame, t: String): Map[String, Any] = {
    val typed = df.select(Dictionary.default(t).fieldNames.map(df.col).toIndexedSeq: _*)
    rowHash(typed.columns.toSeq, typed.collect())
  }

  /** Per type, (rows, hash) of the study's input and of the snapshot zip. */
  private def exportCheck(zip: String): Map[String, Any] = {
    import spark.implicits._
    val exported = mutable.Map[String, mutable.ArrayBuffer[String]]()
    val zf = new ZipFile(zip)
    try zf.entries().asScala.filterNot(_.isDirectory).foreach { e =>
      val t = e.getName.takeWhile(_ != '.')
      val text = new String(zf.getInputStream(e).readAllBytes(), StandardCharsets.UTF_8)
      exported.getOrElseUpdate(t, mutable.ArrayBuffer()) ++=
        text.split("\n").filter(_.nonEmpty)
    } finally zf.close()
    types.map { t =>
      val schema = Dictionary.default(t)
      val in = spark.read.schema(schema).json(s"$study/$t.ndjson")
      val out = spark.read.schema(schema)
        .json(exported.getOrElse(t, mutable.ArrayBuffer()).toSeq.toDS())
      t -> Map("input" -> typedHash(in, t), "export" -> typedHash(out, t))
    }.toMap
  }

  private def layers(c: Cycle, t: Tracer, resources: Long): Map[String, Double] = {
    val verbs = Seq(c.put, c.get, c.delete)
    val tr = t.view(verbs.flatMap(_.span))
    val putReq = c.put.span.get.request
    val storeJobs = tr.layerJobs.filter(j => j.request == putReq && j.name.contains("Store.scala"))
    val putStart = c.put.span.get.start
    val getSpan = c.get.span.get
    // clock times are taken on the nano clock; re-base onto the span clock
    val clockAt = getSpan.start + (c.get.clockMs - c.get.startMs)
    tr.execMetrics(cores) ++ Map(
      "pipeline.etl_put_s" -> (storeJobs.map(_.end).maxOption.getOrElse(putStart) - putStart) / 1000.0,
      "pipeline.store_put_s" -> tr.unionSeconds(storeJobs),
      "pipeline.put_read_amplification" ->
        tr.tasks.get(putReq).map(_.inRows.toDouble / resources).getOrElse(0.0),
      "pipeline.etl_get_s" -> (clockAt - getSpan.start) / 1000.0,
      "pipeline.snapshot_zip_s" -> (getSpan.end - clockAt) / 1000.0,
      "pipeline.delete_s" -> c.delete.span.get.seconds,
      "jvm.gc_s" -> c.gc)
  }

  /** The sources and plans layers, called directly: NDJSON parse of every
    * type, the same from the zipped study, and the flattener over parsed
    * frames held in memory. Median of three of each. */
  private def sourceLayers(t: Tracer, resources: Long): (Map[String, Double], Seq[Span]) = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val spans = mutable.ArrayBuffer[Span]()
    def timed(name: String, layer: String)(body: => Unit): Double =
      median((1 to 3).map { i =>
        spans += t.span(name, layer, s"$layer.$name.$i")(_ => body)._2
        spans.last.seconds
      })
    val ndjson = timed("ndjson_parse", "sources") {
      types.foreach(x => noop(Ndjson.readOrEmpty(spark, study, x, Dictionary.default(x))))
    }
    val zip = timed("zip_parse", "sources") {
      types.foreach(x => noop(ZipNdjson.read(spark, s"$study.zip",
        Dictionary.default(x), _ == s"$x.ndjson")))
    }
    val parsed = types.map(x =>
      Ndjson.readOrEmpty(spark, study, x, Dictionary.default(x)).cache())
    parsed.foreach(_.count())
    val flatten = timed("flatten", "plans") {
      parsed.foreach(df => noop(SchemaFlattener.flatten(df)))
    }
    parsed.foreach(_.unpersist())
    (Map("sources.ndjson_parse_s" -> ndjson,
         "sources.ndjson_rows_per_s" -> resources / ndjson,
         "sources.zip_parse_s" -> zip,
         "plans.flatten_s" -> flatten), spans.toSeq)
  }

  def run(): Map[String, Any] = {
    val counts = types.map { t =>
      val lines = Files.lines(Paths.get(study, s"$t.ndjson"))
      try t -> lines.count() finally lines.close()
    }.toMap
    val resources = counts.values.sum
    val inputBytes = types.map(t => Files.size(Paths.get(study, s"$t.ndjson"))).sum
    Gen.deleteTree(Paths.get(storeRoot))
    clearScratch()

    // cold cycle, with the checks
    val jit0 = jitSeconds
    val coldPut = verb("put", "c0:put", None)
    val coldJit = jitSeconds - jit0
    val (storeBytes, storeFiles) = treeStats(storeRoot)
    val coldGet = verb("get", "c0:get", None)
    attempted += 1
    val exportHashes = try exportCheck(coldGet.result("object_id").toString)
      catch { case NonFatal(e) => failed += 1; errors += s"export check: $e"; Map.empty }
    val coldDelete = verb("delete", "c0:delete", None)
    val coldLeft = leftovers()
    clearScratch()
    heapSamples += heapAfterGcMb(spark)

    // five warm cycles at least: the first ones still speed up as the JIT
    // compiles, and a minimum over three of them spread 0.2 between runs
    val warm = warmLoop(seconds, traced, 5)((c, on) => cycle(c, if (on) tracer else None))
    heapSamples += heapAfterGcMb(spark)
    val plain = warm.filterNot(_._2).map(_._1)
    val latencies = plain.flatMap(c => Seq(c.put.wall, c.get.wall, c.delete.wall))
    def minima(cs: Seq[Cycle]) = Map("put_s" -> cs.map(_.put.wall).min,
                                     "get_s" -> cs.map(_.get.wall).min,
                                     "delete_s" -> cs.map(_.delete.wall).min)
    val perVerb = minima(plain)
    val endToEnd = Map(
      "pass_s" -> perVerb.values.sum,
      "request_p50_s" -> percentile(latencies, 0.5),
      "request_p90_s" -> percentile(latencies, 0.9),
      "cold_s" -> (coldPut.wall + coldGet.wall + coldDelete.wall),
      "heap_peak_mb" -> heapSamples.max)
    val perLayer = tracer.map { t =>
      val tracedCycles = warm.filter(_._2).map(_._1)
      val views = tracedCycles.map(x => t.view(Seq(x.put, x.get, x.delete).flatMap(_.span)))
      val (sources, sourceSpans) = sourceLayers(t, resources)
      Map("trace_spans" -> (views.flatMap(_.all) ++ sourceSpans).map(_.json),
          "self_s" -> medians(views.map(_.selfSeconds)),
          "metrics" -> (medians(tracedCycles.map(layers(_, t, resources))) ++ sources ++ Map(
            "pipeline.store_put_bytes" -> storeBytes.toDouble,
            "pipeline.store_bytes_per_input_byte" -> storeBytes.toDouble / inputBytes,
            "pipeline.store_files" -> storeFiles.toDouble,
            "jvm.jit_s" -> coldJit,
            "jvm.code_cache_mb" -> codeCacheMb,
            "artifact_caches.entries" -> graft.ArtifactCaches.entryCount.toDouble,
            "trace.overhead_ratio" ->
              minima(tracedCycles).values.sum / perVerb.values.sum)))
    }
    Map("attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
        "heap_samples_mb" -> heapSamples.toSeq, "metrics" -> endToEnd,
        "resources" -> counts, "input_bytes" -> inputBytes,
        "store_bytes" -> storeBytes, "store_files" -> storeFiles,
        "export" -> exportHashes,
        "leftovers" -> (coldLeft ++ warm.flatMap(_._1.leftovers)),
        "cycles" -> warm.size,
        "samples" -> latencies.size,
        "cold" -> Map("put_s" -> coldPut.wall, "get_s" -> coldGet.wall,
                      "delete_s" -> coldDelete.wall),
        "warm" -> perVerb, "cycle_walls" -> warm.map(_._1.wall)) ++
      perLayer.map("trace" -> _)
  }
}

object EtlRun {
  private final case class Verb(wall: Double,
                                result: Map[String, Any], span: Option[Span],
                                clockMs: Double, startMs: Double)

  private final case class Cycle(put: Verb, get: Verb, delete: Verb,
                                 gc: Double, leftovers: Seq[String]) {
    def wall: Double = put.wall + get.wall + delete.wall
  }
}
