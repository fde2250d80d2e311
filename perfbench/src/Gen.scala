package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generates the benchmark's sf0.1 fixture tables: the TPC-H-ish star
  * schema plus the events, documents and embeddings tables of FIXTURES.md,
  * with the row counts and value distributions measured on the seed-42
  * sf0.1 tables (perfbench/README.md lists the measurements).
  *
  * Every value is a pure function of its row id and a per-column salt
  * (Spark's `xxhash64`), so the same code writes the same bytes on every
  * box and the expected result hashes in `workloads.json` stay valid.
  * Each table is written as ONE parquet file named `<table>.parquet`, the
  * layout `graft.Tables` and DuckDB both read.
  */
object Gen {
  val DataSeed = 42

  /** Uniform long in [0, n) for row `id` and column salt `salt`. */
  private def pick(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(DataSeed), lit(salt)), lit(n))

  /** Uniform double in [0, 1). */
  private def unit(id: Column, salt: Int): Column =
    pick(id, salt, 1000000000L).cast("double") / 1e9

  private def money(id: Column, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + unit(id, salt) * (hi - lo), 2)

  private def oneOf(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(id, salt, xs.size.toLong) + 1).cast("int"))

  private def dayFrom(start: String, id: Column, salt: Int, days: Long): Column =
    date_add(to_date(lit(start)), pick(id, salt, days).cast("int"))
      .cast("timestamp_ntz")

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    val id = col("id")
    def rows(n: Long): DataFrame = spark.range(n).toDF("id")

    val region = spark.createDataFrame(Seq(0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA",
      3 -> "EUROPE", 4 -> "MIDDLE EAST")).toDF("r_regionkey", "r_name")
    val nation = rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey"))
    val customer = rows(15000).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(id, 1, 25).cast("int").as("c_nationkey"),
      money(id, 2, -999.99, 9999.99).as("c_acctbal"),
      oneOf(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val supplier = rows(1000).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick(id, 1, 25).cast("int").as("s_nationkey"),
      money(id, 2, -999.99, 9999.99).as("s_acctbal"))
    val part = rows(20000).select(id.as("p_partkey"),
      concat_ws(" ",
        oneOf(id, 1, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        oneOf(id, 2, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")))
        .as("p_name"),
      concat(lit("Brand#"), pick(id, 3, 25) + 1).as("p_brand"),
      oneOf(id, 4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (pick(id, 5, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(id, lit(1000)) / 10.0, 1).as("p_retailprice"))
    val orders = rows(150000).select(id.as("o_orderkey"),
      pick(id, 1, 15000).as("o_custkey"),
      oneOf(id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(id, 3, 1000.0, 500000.0).as("o_totalprice"),
      dayFrom("1995-01-01", id, 4, 2405).as("o_orderdate"),
      oneOf(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = rows(600000).select(
      pick(id, 1, 150000).as("l_orderkey"),
      pick(id, 2, 20000).as("l_partkey"),
      pick(id, 3, 1000).as("l_suppkey"),
      (pick(id, 4, 7) + 1).cast("int").as("l_linenumber"),
      (pick(id, 5, 50) + 1).cast("double").as("l_quantity"),
      money(id, 6, 900.0, 105000.0).as("l_extendedprice"),
      (pick(id, 7, 11) / 100.0).as("l_discount"),
      (pick(id, 8, 9) / 100.0).as("l_tax"),
      oneOf(id, 9, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(id, 10, Seq("F", "O")).as("l_linestatus"),
      dayFrom("1995-01-02", id, 11, 2499).as("l_shipdate"))

    // 100k events in id order over 30 days: each id owns a 25.92 s slot
    // and lands at a hashed offset inside it, so ts rises with event_id
    val slotMicros = 30L * 86400L * 1000000L / 100000L
    val events = rows(100000).select(id.as("event_id"),
      timestamp_micros(lit(java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L)
        + id * slotMicros + pick(id, 1, slotMicros)).cast("timestamp_ntz").as("ts"),
      pick(id, 2, 1500).as("user_id"),
      oneOf(id, 3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log(lit(1.0) - unit(id, 4)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", pick(id, 5, 100)).as("props"))

    // 5000 docs of 10-99 vocabulary words. 250 docs, taken in hashed rank
    // order, are overwritten with a near copy of a random doc: its text at
    // that moment plus a trailing "dup", so a copy of an earlier copy ends
    // in "dup dup" and a doc overwritten later leaves its copies without a
    // source. This matches the seed-42 sf0.1 documents table, which has no
    // other duplicates.
    val vocab = array(Vocab.map(lit): _*)
    def words(src: Column): Column = array_join(
      transform(sequence(lit(1), (pick(src, 1, 90) + 10).cast("int")),
        i => element_at(vocab, (pmod(xxhash64(src, i, lit(DataSeed)), lit(Vocab.size.toLong)) + 1)
          .cast("int"))), " ")
    val roles = rows(5000).select(id,
      (row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(xxhash64(id, lit(DataSeed), lit(4)), id)) - 1).as("rank"),
      pmod(id + 1 + pick(id, 2, 4999), lit(5000L)).as("other"))
    val copied = roles.select(col("id").as("o_id"), col("rank").as("o_rank"),
      col("other").as("o_other"))
    val documents = roles.join(copied, col("other") === col("o_id"))
      .select(id.as("doc_id"),
        when(col("rank") >= 250, words(id))
          .when(col("o_rank") < col("rank"), concat(words(col("o_other")), lit(" dup dup")))
          .otherwise(concat(words(col("other")), lit(" dup"))).as("text"),
        element_at(array(Seq("en", "en", "en", "en", "en", "en", "en", "en", "de", "de", "de",
          "es", "es", "es", "fr", "fr", "fr", "zh", "zh", "zh").map(lit): _*),
          (pick(id, 3, 20) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(id, lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(1).sortWithinPartitions("doc_id")

    // 2000 unit vectors of dim 64 with i.i.d. normal components (Box-Muller)
    // and a label drawn apart from the vector: the labels mark no clusters
    val dim = 64
    def normal(key: Column): Column =
      sqrt(lit(-2.0) * log(lit(1.0) - unit(key, 10))) * cos(lit(2 * math.Pi) * unit(key, 11))
    val raw = transform(sequence(lit(0), lit(dim - 1)), d => normal(col("id") * 1000 + d))
    val embeddings = rows(2000)
      .select(id, pick(id, 1, 10).cast("int").as("label"), raw.as("raw"))
      .select(id.as("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))

    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders, "lineitem" -> lineitem,
      "events" -> events, "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Writes every table to `<out>/<table>.parquet` as a single file. */
  def write(spark: SparkSession, out: Path): Unit = {
    Files.createDirectories(out)
    for ((name, df) <- tables(spark)) {
      val staging = out.resolve(s".$name")
      df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = Files.list(staging).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, out.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.walk(staging).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(args.lift(1).getOrElse("4"))
    try write(spark, Paths.get(args(0)))
    finally spark.stop()
  }
}
