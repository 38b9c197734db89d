package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The board's input tables at scale factor 0.1, generated inside the
  * checkout: the benchmark reads nothing outside it, so it cannot use a
  * shared fixture directory. Schemas, row counts and value domains follow
  * FIXTURES.md. Every value is a hash of (row id, column salt, generator
  * seed), so the tables are byte-for-byte the same on every machine and
  * at any parallelism; the board's pinned row hashes depend on that.
  *
  * Each table is written as a single `<name>.parquet` file, the layout
  * `graft.Tables.load` and `loadStream` expect.
  */
object Fixtures {
  /** Fixed: the board's data never varies with the run's seed. */
  val GeneratorSeed = 42L

  private val Days = 86400L * 1000000L // micros

  /** SQL for a uniform double in [0, 1) from a row id column and a
    * per-column salt. */
  private def uSql(salt: Int, id: String = "id"): String =
    s"((xxhash64($id, $salt, $GeneratorSeed) & 9223372036854775807)" +
      " / 9.223372036854775807E18)"

  private def u(salt: Int): Column = expr(uSql(salt))

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (floor(u(salt) * values.size) + 1).cast("int"))

  private def micros(date: String): Long =
    java.time.LocalDate.parse(date).toEpochDay * Days

  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def ids(n: Long) = spark.range(0, n, 1, 4)
    val region = ids(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int"))
        .as("r_name"))
    val nation = ids(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = ids(15000).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      floor(u(1) * 25).cast("int").as("c_nationkey"),
      round(u(2) * 10999.7 - 999.9, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    val supplier = ids(1000).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      floor(u(4) * 25).cast("int").as("s_nationkey"),
      round(u(5) * 10999.7 - 999.9, 2).as("s_acctbal"))
    val part = ids(20000).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("blue", "old", "large", "hot", "cold",
        "small", "new", "red")), pick(7, Seq("widget", "gizmo", "ring",
        "gear", "bolt", "plate", "rod", "anvil"))).as("p_name"),
      concat(lit("Brand#"), floor(u(8) * 25) + 1).as("p_brand"),
      pick(9, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
        "PROMO")).as("p_type"),
      (floor(u(10) * 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice"))
    val orders = ids(150000).select(col("id").as("o_orderkey"),
      floor(u(11) * 15000).cast("long").as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(13) * 499000 + 1000, 2).as("o_totalprice"),
      expr(s"timestamp_micros(${micros("1995-01-01")} + " +
        s"cast(floor(${uSql(14)} * 2404) as bigint) * $Days)")
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val lineitem = ids(600000).select(
      floor(u(16) * 150000).cast("long").as("l_orderkey"),
      floor(u(17) * 20000).cast("long").as("l_partkey"),
      floor(u(18) * 1000).cast("long").as("l_suppkey"),
      (floor(u(19) * 7) + 1).cast("int").as("l_linenumber"),
      (floor(u(20) * 50) + 1).cast("double").as("l_quantity"),
      round(u(21) * 104099 + 900.68, 2).as("l_extendedprice"),
      (floor(u(22) * 11) / 100.0).as("l_discount"),
      (floor(u(23) * 9) / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, Seq("O", "F")).as("l_linestatus"),
      expr(s"timestamp_micros(${micros("1995-01-02")} + " +
        s"cast(floor(${uSql(26)} * 2498) as bigint) * $Days)")
        .cast("timestamp_ntz").as("l_shipdate"))
    // ts rises with event_id: one 30-day span cut into equal steps, with
    // a jitter smaller than a step
    val step = 30L * Days / 100000
    val events = ids(100000).select(col("id").as("event_id"),
      expr(s"timestamp_micros(${micros("2024-01-01")} + id * $step + " +
        s"cast(floor(${uSql(27)} * $step) as bigint))")
        .cast("timestamp_ntz").as("ts"),
      floor(u(28) * 1500).cast("long").as("user_id"),
      pick(29, Seq("view", "click", "purchase", "signup", "error"))
        .as("event_type"),
      round(-log(lit(1.0) - u(30)) * 50, 2).as("value"),
      concat(lit("{\"k\": "), floor(u(31) * 100), lit("}")).as("props"))
    val vocab = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val soup = ids(5000).select(col("id"),
      expr(s"array_join(transform(sequence(1, 10 + cast(floor(${uSql(32)}" +
        s" * 91) as int)), i -> element_at($vocab, cast(pmod(xxhash64(id," +
        s" i, 33, $GeneratorSeed), 30) as int) + 1)), ' ')").as("soup"))
    // one document in 20 copies an earlier one and appends " dup"
    val documents = soup.as("d")
      .join(soup.as("o"), expr(s"o.id = floor(${uSql(34, "d.id")} * d.id)"),
        "left")
      .select(col("d.id").as("doc_id"),
        when(col("d.id") > 0 && expr(uSql(35, "d.id")) < 0.05,
          concat(col("o.soup"), lit(" dup"))).otherwise(col("d.soup"))
          .as("text"),
        expr(s"element_at(array('en','en','es','de','fr','zh')," +
          s" cast(floor(${uSql(36, "d.id")} * 6) as int) + 1)")
          .as("lang"),
        concat(lit("src"), col("d.id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
    val gauss = s"sqrt(-2 * ln(1 - ((xxhash64(id, i, 37, $GeneratorSeed) & " +
      "9223372036854775807) / 9.223372036854775807E18))) * cos(2 * pi() * " +
      s"((xxhash64(id, i, 38, $GeneratorSeed) & 9223372036854775807) / " +
      "9.223372036854775807E18))"
    val embeddings = ids(2000)
      .select(col("id"), expr(s"transform(sequence(0, 63), i -> $gauss)")
        .as("raw"))
      .select(col("id").as("vec_id"),
        expr("transform(raw, x -> cast(x / sqrt(aggregate(raw, 0D, " +
          "(a, y) -> a + y * y)) as float))").as("embedding"),
        floor(u(39) * 10).cast("int").as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write every table under `dir` unless a completed set is there. */
  def ensure(spark: SparkSession, dir: Path): Unit = {
    val done = dir.resolve("_COMPLETE")
    if (Files.exists(done)) return
    Files.createDirectories(dir)
    tables(spark).foreach { case (name, df) =>
      val tmp = dir.resolve(s"_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString
        .endsWith(".parquet")).findFirst().get()
      Files.move(part, dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.list(tmp).forEach(Files.delete(_))
      Files.delete(tmp)
    }
    Files.writeString(done, "")
  }
}
