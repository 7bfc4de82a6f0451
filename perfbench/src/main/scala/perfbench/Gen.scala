package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import java.io.{File, FileOutputStream}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Seeded input generators.
  *
  * [[catalog]] writes the ten catalog tables with the schemas (FIXTURES.md
  * §B) and the value shapes measured on the engine's testdata at sf0.01
  * and sf0.1: uniform keys and foreign keys, the same categorical domains,
  * numeric ranges and row counts, four line items per order on random
  * orders, one month of ordered events with exponential values, documents
  * of 10..99 words from a 30-word vocabulary of which one in twenty is a
  * copy of another document plus the word "dup", and 64-d unit vectors of
  * independent Gaussian components with labels drawn independently.
  * Every value is a hash of (seed, table, row, column), so a (seed, sf)
  * pair always gives byte-identical tables. Each table is one parquet file
  * with one row group, like the testdata.
  *
  * [[study]] derives a FHIR study (Patient, Observation, DocumentReference
  * NDJSON plus one ResearchStudy) from those tables, keyed by its own seed:
  * ids, genders, birth dates and measured values change with the seed,
  * resource counts do not.
  */
object Gen {

  /** Rows per table at scale factor `sf`, as in the testdata: linear in
    * sf, with at least 500 documents and 500 embeddings; region and nation
    * are fixed. */
  def rows(sf: Double): Map[String, Long] = {
    def n(at01: Long) = math.max(1L, math.round(at01 * sf / 0.1))
    Map("region" -> 5L, "nation" -> 25L, "customer" -> n(15000),
        "supplier" -> n(1000), "part" -> n(20000), "orders" -> n(150000),
        "lineitem" -> n(600000), "events" -> n(100000),
        "documents" -> math.max(500L, n(5000)),
        "embeddings" -> math.max(500L, n(2000)))
  }

  // uniform helpers over a 64-bit hash of (seed, salt, keys...)
  private def h(seed: Long, salt: String, keys: Column*): Column =
    F.xxhash64((F.lit(seed) +: F.lit(salt) +: keys): _*)
  private def mod(seed: Long, salt: String, m: Long, keys: Column*): Column =
    F.pmod(h(seed, salt, keys: _*), F.lit(m))
  /** Uniform in [0, 1) with 1e-6 resolution. */
  private def unif(seed: Long, salt: String, keys: Column*): Column =
    mod(seed, salt, 1000000L, keys: _*) / 1e6
  private def pick(values: Seq[String], seed: Long, salt: String,
                   keys: Column*): Column =
    F.element_at(F.array(values.map(F.lit): _*),
                 (mod(seed, salt, values.size.toLong, keys: _*) + 1).cast("int"))
  private def money(lo: Double, hi: Double, u: Column): Column =
    F.round(F.lit(lo) + u * (hi - lo), 2)
  private def day(base: String, offset: Column): Column =
    F.date_add(F.lit(java.sql.Date.valueOf(base)), offset.cast("int"))
      .cast("timestamp_ntz")

  private val Words = Seq("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "column", "order", "data", "join", "small",
    "big", "query", "customer", "filter", "group", "stream", "vector")

  def catalog(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val n = rows(sf)
    def range(t: String) = spark.range(0, n(t), 1, 1).toDF("id")
    val id = F.col("id")
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val tables = Seq[(String, DataFrame)](
      "region" -> range("region").select(id.cast("int").as("r_regionkey"),
        F.element_at(F.array(regions.map(F.lit): _*), (id + 1).cast("int"))
          .as("r_name")),
      "nation" -> range("nation").select(id.cast("int").as("n_nationkey"),
        F.concat(F.lit("NATION_"), id).as("n_name"),
        F.pmod(id, F.lit(5)).cast("int").as("n_regionkey")),
      "customer" -> range("customer").select(id.as("c_custkey"),
        F.format_string("Customer#%09d", id).as("c_name"),
        mod(seed, "c_nation", 25, id).cast("int").as("c_nationkey"),
        money(-999.99, 9999.99, unif(seed, "c_acctbal", id)).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"), seed, "c_seg", id).as("c_mktsegment")),
      "supplier" -> range("supplier").select(id.as("s_suppkey"),
        F.format_string("Supplier#%09d", id).as("s_name"),
        mod(seed, "s_nation", 25, id).cast("int").as("s_nationkey"),
        money(-999.99, 9999.99, unif(seed, "s_acctbal", id)).as("s_acctbal")),
      "part" -> range("part").select(id.as("p_partkey"),
        F.concat_ws(" ",
          pick(Seq("blue", "old", "small", "new", "red", "large", "hot",
                   "cold"), seed, "p_adj", id),
          pick(Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod",
                   "anvil"), seed, "p_noun", id)).as("p_name"),
        F.concat(F.lit("Brand#"), mod(seed, "p_brand", 25, id) + 1)
          .as("p_brand"),
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                 "STANDARD"), seed, "p_type", id).as("p_type"),
        (mod(seed, "p_size", 50, id) + 1).cast("int").as("p_size"),
        F.round(F.lit(900.0) + F.pmod(id, F.lit(1000)) / 10.0, 1)
          .as("p_retailprice")),
      "orders" -> range("orders").select(id.as("o_orderkey"),
        mod(seed, "o_cust", n("customer"), id).as("o_custkey"),
        pick(Seq("F", "O", "P"), seed, "o_status", id).as("o_orderstatus"),
        money(1000.0, 500000.0, unif(seed, "o_total", id)).as("o_totalprice"),
        day("1995-01-01", mod(seed, "o_date", 2405, id)).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"), seed, "o_prio", id).as("o_orderpriority")),
      "lineitem" -> lineitem(spark, seed, n),
      "events" -> events(spark, seed, n),
      "documents" -> documents(spark, seed, n("documents")),
      "embeddings" -> embeddings(spark, seed, n("embeddings")))
    tables.foreach { case (t, df) => writeSingle(df, dir, t) }
  }

  /** Four lines per order on average, each on a random order with a
    * random line number 1..7 (so (l_orderkey, l_linenumber) repeats), and
    * every value drawn independently: the extended price is not quantity
    * times a price, and the ship date is not tied to the order date. */
  private def lineitem(spark: SparkSession, seed: Long,
                       n: Map[String, Long]): DataFrame = {
    val id = F.col("id")
    spark.range(0, n("lineitem"), 1, 1).toDF("id").select(
        mod(seed, "l_order", n("orders"), id).as("l_orderkey"),
        mod(seed, "l_part", n("part"), id).as("l_partkey"),
        mod(seed, "l_supp", n("supplier"), id).as("l_suppkey"),
        (mod(seed, "l_line", 7, id) + 1).cast("int").as("l_linenumber"),
        (mod(seed, "l_qty", 50, id) + 1).cast("double").as("l_quantity"),
        money(900.0, 105000.0, unif(seed, "l_price", id)).as("l_extendedprice"),
        (mod(seed, "l_disc", 11, id) / 100.0).as("l_discount"),
        (mod(seed, "l_tax", 9, id) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), seed, "l_rf", id).as("l_returnflag"),
        pick(Seq("F", "O"), seed, "l_ls", id).as("l_linestatus"),
        day("1995-01-02", mod(seed, "l_ship", 2499, id)).as("l_shipdate"))
  }

  /** One month of events in event_id order; users grow with sf. */
  private def events(spark: SparkSession, seed: Long,
                     n: Map[String, Long]): DataFrame = {
    val id = F.col("id")
    val total = n("events")
    val users = math.max(1L, n("customer") / 10)
    val stepMicros = 30L * 86400L * 1000000L / total
    val kind = pick(Seq("click", "error", "purchase", "signup", "view"),
                    seed, "e_type", id)
    spark.range(0, total, 1, 1).toDF("id").select(id.as("event_id"),
      F.timestamp_micros(F.lit(1704067200000000L) + id * stepMicros +
        mod(seed, "e_ts", stepMicros, id)).cast("timestamp_ntz").as("ts"),
      mod(seed, "e_user", users, id).as("user_id"),
      kind.as("event_type"),
      // exponential, mean 50, whatever the event type
      F.round(F.log(F.lit(1.0) - unif(seed, "e_val", id)) * -50.0, 2)
        .as("value"),
      F.format_string("{\"k\": %d}", mod(seed, "e_k", 100, id)).as("props"))
  }

  /** Documents of 10..99 uniform words. One in twenty is a copy of the
    * words of a random other document with " dup" appended, so two copies
    * of the same document are exact duplicates of each other. */
  private def documents(spark: SparkSession, seed: Long, total: Long): DataFrame = {
    val id = F.col("id")
    val base = F.col("base")
    val vocab = F.array(Words.map(F.lit): _*)
    def word(doc: Column, pos: Column) = F.element_at(vocab,
      (mod(seed, "d_word", Words.size.toLong, doc, pos) + 1).cast("int"))
    val isDup = mod(seed, "d_dup", 20, id) === 0
    val other = mod(seed, "d_base", total - 1, id)
    val words = F.transform(
      F.sequence(F.lit(1), (mod(seed, "d_len", 90, base) + 10).cast("int")),
      p => word(base, p))
    val langs = F.when(mod(seed, "d_lang", 100, id) < 41, F.lit("en"))
      .otherwise(pick(Seq("de", "es", "fr", "zh"), seed, "d_lang2", id))
    spark.range(0, total, 1, 1).toDF("id")
      .withColumn("base", F.when(isDup,
        F.when(other >= id, other + 1).otherwise(other)).otherwise(id))
      .select(id.as("doc_id"), F.concat(F.array_join(words, " "),
          F.when(isDup, F.lit(" dup")).otherwise(F.lit(""))).as("text"),
        langs.as("lang"), F.concat(F.lit("src"), F.pmod(id, F.lit(20)))
          .as("source"))
      .withColumn("n_chars", F.length(F.col("text")).cast("long"))
  }

  /** 64-d unit vectors in uniformly random directions (normalized
    * independent Gaussians, by Box-Muller), each with a random label 0..9
    * that is not tied to the direction. */
  private def embeddings(spark: SparkSession, seed: Long, total: Long): DataFrame = {
    val id = F.col("id")
    val raw = F.transform(F.sequence(F.lit(0), F.lit(63)), d =>
      F.sqrt(F.log(F.lit(1.0) - unif(seed, "v_r", id, d)) * -2.0) *
        F.cos(unif(seed, "v_theta", id, d) * (2 * math.Pi)))
    spark.range(0, total, 1, 1).toDF("id")
      .withColumn("label", mod(seed, "v_label", 10, id).cast("int"))
      .withColumn("raw", raw)
      .withColumn("norm", F.sqrt(F.aggregate(F.col("raw"), F.lit(0.0),
        (acc, x) => acc + x * x)))
      .select(id.as("vec_id"),
        F.transform(F.col("raw"), x => (x / F.col("norm")).cast("float"))
          .as("embedding"),
        F.col("label"))
  }

  /** A FHIR study derived from the first `fraction` of the customers in
    * `tables`: one Patient per customer, one Observation per order of
    * theirs and per line item of those orders, one DocumentReference per
    * document in the same fraction of the corpus, and one ResearchStudy.
    * Writes `<dir>/<Type>.ndjson` and `<dir>.zip` holding the same four
    * files. */
  def study(spark: SparkSession, tables: String, dir: String, seed: Long,
            projectId: String, fraction: Double): Unit = {
    def t(name: String) = graft.Tables.table(spark, tables, name)
    val nCust = math.max(1L, math.round(t("customer").count() * fraction))
    val nDocs = math.max(1L, math.round(t("documents").count() * fraction))
    val customer = t("customer").filter(F.col("c_custkey") < nCust)
    val orders = t("orders").filter(F.col("o_custkey") < nCust)
    val lineitem = t("lineitem")
    val documents = t("documents").filter(F.col("doc_id") < nDocs)
    def patientId(custkey: Column) =
      F.concat(F.lit("Patient/"), F.sha2(F.concat_ws(":", F.lit(seed),
        F.lit("p"), custkey.cast("string")), 256).substr(1, 32))
    def resId(kind: String, keys: Column*) =
      F.sha2(F.concat_ws(":", (F.lit(seed) +: F.lit(kind) +:
        keys.map(_.cast("string"))): _*), 256).substr(1, 32)
    val utc = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    val patient = customer.select(
      patientId(F.col("c_custkey")).as("id"),
      pick(Seq("female", "male", "other", "unknown"), seed, "gender",
           F.col("c_custkey")).as("gender"),
      F.date_format(F.date_add(F.lit(java.sql.Date.valueOf("1930-01-01")),
        mod(seed, "birth", 27000, F.col("c_custkey")).cast("int")),
        "yyyy-MM-dd").as("birthDate"),
      F.array(F.concat(F.lit(projectId + "#"), F.col("c_name")))
        .as("identifier"))
    val orderObs = orders.select(
      resId("order", F.col("o_orderkey")).as("id"),
      patientId(F.col("o_custkey")).as("patient_id"),
      F.concat(F.lit("order-"), F.col("o_orderpriority")).as("code"),
      (F.col("o_totalprice") + mod(seed, "o_jit", 100, F.col("o_orderkey")) / 100.0)
        .as("value_numeric"),
      F.date_format(F.col("o_orderdate"), utc).as("effectiveDateTime"))
    val lineObs = lineitem
      .join(orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") === F.col("o_orderkey"))
      .select(
        resId("line", F.col("l_orderkey"), F.col("l_linenumber")).as("id"),
        patientId(F.col("o_custkey")).as("patient_id"),
        F.concat(F.lit("line-"), F.col("l_returnflag"), F.col("l_linestatus"))
          .as("code"),
        (F.col("l_extendedprice") +
          mod(seed, "l_jit", 100, F.col("l_orderkey"), F.col("l_linenumber")) / 100.0)
          .as("value_numeric"),
        F.date_format(F.col("l_shipdate"), utc).as("effectiveDateTime"))
    val docRef = documents.select(
      resId("doc", F.col("doc_id")).as("id"),
      patientId(mod(seed, "doc_owner", nCust, F.col("doc_id"))).as("patient_id"),
      F.concat(F.lit(s"s3://$projectId/documents/"), F.col("doc_id"),
               F.lit(".txt")).as("content_url"),
      F.col("n_chars").as("content_size"),
      F.date_format(F.timestamp_seconds(F.lit(1704067200L) +
        F.col("doc_id") * 3600L), utc).as("date"))
    val (program, project) = projectId.span(_ != '-')
    val researchStudy = spark.range(1).select(
      resId("study", F.lit(projectId)).as("id"),
      F.lit("active").as("status"),
      F.lit(s"Benchmark study for $projectId").as("description"),
      F.array(F.lit(s"https://aced-idp.org/$program#${project.drop(1)}"))
        .as("identifier_coding"))
    val typed = Seq("Patient" -> patient,
      "Observation" -> orderObs.unionByName(lineObs),
      "DocumentReference" -> docRef, "ResearchStudy" -> researchStudy)
    new File(dir).mkdirs()
    typed.foreach { case (name, df) =>
      val tmp = s"$dir/.$name.tmp"
      df.coalesce(1).write.mode("overwrite").json(tmp)
      moveSinglePart(tmp, s"$dir/$name.ndjson", ".json")
    }
    val zout = new ZipOutputStream(new FileOutputStream(s"$dir.zip"))
    try typed.foreach { case (name, _) =>
      zout.putNextEntry(new ZipEntry(s"$name.ndjson"))
      Files.copy(new File(s"$dir/$name.ndjson").toPath, zout)
      zout.closeEntry()
    } finally zout.close()
  }

  /** Write `df` as the single file `<dir>/<name>.parquet`. */
  private def writeSingle(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/.$name.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    moveSinglePart(tmp, s"$dir/$name.parquet", ".parquet")
  }

  private def moveSinglePart(tmpDir: String, dst: String, ext: String): Unit = {
    val parts = new File(tmpDir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(ext))
    require(parts.length == 1, s"expected one part file in $tmpDir")
    Files.move(parts.head.toPath, new File(dst).toPath,
               StandardCopyOption.REPLACE_EXISTING)
    deleteTree(new File(tmpDir).toPath)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }
}
