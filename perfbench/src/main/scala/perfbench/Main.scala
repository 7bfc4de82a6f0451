package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JVM side of the benchmark; run.py launches it and reads its result file.
  *
  * Usage: perfbench.Main <mode> key=value...
  *   ready                      start a session, then exit
  *   prep    work= data= sf= [study= project= seed= fraction=]
  *                              start a session, then write the catalog
  *                              tables (if absent) and the FHIR study
  *   catalog work= data= queries= seed= seconds= trace= out=
  *   etl     work= data= study= project= seed= seconds= trace= out=
  *
  * Every mode prints PERFBENCH_READY once the session can take its first
  * request; run.py times set-up up to that line.
  */
object Main {

  /** The catalog tables are fixed (their expected query results are
    * frozen in expected.json); only the query order follows --seed. */
  val CatalogSeed = 42L

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val kv = args.tail.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, kv("work"))
    println("PERFBENCH_READY")
    System.out.flush()
    val code = try {
      mode match {
        case "ready" =>
        case "prep" => prep(spark, kv)
        case "catalog" => Json.write(kv("out"), new CatalogRun(spark, kv, cores).run())
        case "etl" => Json.write(kv("out"), new EtlRun(spark, kv, cores).run())
      }
      0
    } catch {
      case NonFatal(e) => e.printStackTrace(); 1
    } finally spark.stop()
    sys.exit(code)
  }

  /** The session every mode runs on: the engine's own settings
    * ([[graft.GraftSession.configure]]) plus the confs the engine's bench
    * main sets for long multi-pass runs, written down here so the
    * benchmark does not depend on that main. Scratch space stays inside
    * the work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val local = new File(work, "spark-local").getAbsolutePath
    val s = graft.GraftSession.configure(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.ui.retainedJobs", "64")
        .config("spark.ui.retainedStages", "128")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir",
                new File(work, "warehouse").getAbsolutePath))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(s)
    s
  }

  private def prep(spark: SparkSession, kv: Map[String, String]): Unit = {
    val data = kv("data")
    if (!new File(data, "_COMPLETE").exists()) {
      Gen.deleteTree(Paths.get(data))
      Gen.catalog(spark, data, kv("sf").toDouble, CatalogSeed)
      Files.writeString(Paths.get(data, "_COMPLETE"), "")
    }
    kv.get("study").foreach { dir =>
      Gen.deleteTree(Paths.get(dir))
      Gen.study(spark, data, dir, kv("seed").toLong, kv("project"),
                kv("fraction").toDouble)
    }
  }

  // ---- JVM-wide counters -------------------------------------------------

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1000.0
  def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
    .map(_.getUsage.getUsed).sum / 1048576.0
  /** Heap occupancy right after a full collection. Spark's status store
    * keeps the last 64 jobs, 128 stages and 8 SQL executions, and which
    * ones depends on the seeded query order; trivial jobs push them out
    * first, so the sample shows what the program itself retains. */
  def heapAfterGcMb(spark: SparkSession): Double = {
    (1 to 8).foreach(_ => spark.range(1).write.format("noop").mode("overwrite").save())
    (1 to 128).foreach(_ => spark.sparkContext.parallelize(Seq(1), 1).count())
    // the second collection frees what the ContextCleaner released after
    // the first one (broadcast and shuffle blocks of finished queries)
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of
    * all order statistics. A single order statistic jumps from one query's
    * time to its neighbour's when the pooled samples shift by one rank;
    * this estimate moves smoothly. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n < 2) s.headOption.getOrElse(0.0)
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        p * (n + 1), (1 - p) * (n + 1))
      s.indices.map(i => s(i) * (beta.cumulativeProbability((i + 1.0) / n) -
                                  beta.cumulativeProbability(i.toDouble / n))).sum
    }
  }

  /** Medians, key by key, of per-pass metric maps. */
  def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> median(ms.map(_.getOrElse(k, 0.0)))).toMap

  /** Canonical text of one value: doubles at full precision, timestamps
    * as UTC instants, maps in key order, binaries in hex, structs and
    * arrays recursively. */
  private def canonical(v: Any): String = v match {
    case null => "\u0000"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + ":" + canonical(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case other => other.toString
  }

  /** Row count and an order-insensitive hash of collected rows: the sum,
    * modulo 2^64, of a 64-bit digest of each row's canonical text over the
    * columns in name order. */
  def rowHash(columns: Seq[String], rows: Array[Row]): Map[String, Any] = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val text = order.map(i => canonical(r.get(i))).mkString("\u0001")
      acc + java.nio.ByteBuffer.wrap(md.digest(text.getBytes("UTF-8"))).getLong
    }
    Map("rows" -> rows.length.toLong, "hash" -> java.lang.Long.toUnsignedString(sum))
  }

  /** The warm units of a run (units 1, 2, ...), run until `seconds` have
    * passed and at least `minUnits` ran. A traced run takes one more, in
    * the order untraced, traced, traced, untraced (repeated), so both sides
    * get early and late units when the run reports the tracer's overhead. */
  def warmLoop[U](seconds: Double, traced: Boolean, minUnits: Int)
                 (unit: (Int, Boolean) => U): Seq[(U, Boolean)] = {
    val min = if (traced) minUnits + 1 else minUnits
    val out = mutable.ArrayBuffer[(U, Boolean)]()
    val t0 = System.nanoTime()
    while (out.size < min || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = traced && (out.size % 4 == 1 || out.size % 4 == 2)
      out += unit(out.size + 1, on) -> on
    }
    out.toSeq
  }
}

/** Serializes nested Scala maps, sequences and scalars with Jackson. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val out = new java.util.TreeMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case null => null
    case other => other.asInstanceOf[AnyRef]
  }
  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(toJava(v)))
}
