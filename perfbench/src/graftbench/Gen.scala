package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-H-ish tables plus the documents / embeddings / events
  * side tables, shaped like the tables graft's query keys are written
  * against. Every column is a pure function of (row id, column salt, data
  * seed) through `xxhash64`, so the same (scale, seed) writes the same
  * rows on any machine and any partitioning.
  *
  * Row counts at scale `sf`: lineitem 6e6·sf, orders 1.5e6·sf, customer
  * 1.5e5·sf, part 2e5·sf, supplier 1e4·sf, events 1e5·sf; documents and
  * embeddings stay at 500 rows at every scale, as in the reference tables.
  */
object Gen {

  val DocCount = 500L
  val EmbeddingDim = 64

  def rowCounts(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> math.round(150000 * sf),
    "supplier" -> math.max(math.round(10000 * sf), 1L),
    "part" -> math.round(200000 * sf),
    "orders" -> math.round(1500000 * sf),
    "lineitem" -> math.round(6000000 * sf),
    "events" -> math.round(100000 * sf),
    "documents" -> DocCount, "embeddings" -> DocCount)

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val n = rowCounts(sf)
    def h(salt: Int, id: Column = col("id")): Column =
      xxhash64(id, lit(salt), lit(seed))
    def pick(salt: Int, m: Long): Column = pmod(h(salt), lit(m))
    def unit(salt: Int): Column = pick(salt, 1000000L).cast("double") / 1e6
    def oneOf(salt: Int, vals: Seq[String]): Column =
      element_at(array(vals.map(lit): _*), (pick(salt, vals.size) + 1).cast("int"))
    def day(base: String, salt: Int, span: Long): Column =
      (to_timestamp(lit(base)) + make_dt_interval(pick(salt, span).cast("int")))
        .cast("timestamp_ntz")
    def money(salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + unit(salt) * (hi - lo), 2)
    def ids(table: String): DataFrame = spark.range(0, n(table), 1, 4).toDF()
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", ids("region").select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    save("nation", ids("nation").select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", ids("customer").select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(1, 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      oneOf(3, Seq("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE",
        "HOUSEHOLD")).as("c_mktsegment")))
    save("supplier", ids("supplier").select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(1, 25).cast("int").as("s_nationkey"),
      money(2, -999.99, 9999.99).as("s_acctbal")))
    save("part", ids("part").select(col("id").as("p_partkey"),
      concat_ws(" ", oneOf(1, Seq("small", "red", "blue", "green", "large",
        "steel", "brass", "plain")), oneOf(2, Seq("ring", "widget", "bolt",
        "gear", "panel", "pipe", "valve", "cable"))).as("p_name"),
      concat(lit("Brand#"), pick(3, 25) + 1).as("p_brand"),
      oneOf(4, Seq("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL",
        "ECONOMY")).as("p_type"),
      (pick(5, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pick(6, 1000).cast("double") / 10).as("p_retailprice")))
    save("orders", ids("orders").select(col("id").as("o_orderkey"),
      pick(1, n("customer")).as("o_custkey"),
      oneOf(2, Seq("O", "F", "P")).as("o_orderstatus"),
      money(3, 1000.0, 500000.0).as("o_totalprice"),
      day("1995-01-01", 4, 2404).as("o_orderdate"),
      oneOf(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    save("lineitem", ids("lineitem").select(
      pick(1, n("orders")).as("l_orderkey"),
      pick(2, n("part")).as("l_partkey"),
      pick(3, n("supplier")).as("l_suppkey"),
      (pick(4, 7) + 1).cast("int").as("l_linenumber"),
      (pick(5, 50) + 1).cast("double").as("l_quantity"),
      money(6, 900.0, 105000.0).as("l_extendedprice"),
      (pick(7, 11).cast("double") / 100).as("l_discount"),
      (pick(8, 9).cast("double") / 100).as("l_tax"),
      oneOf(9, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(10, Seq("O", "F")).as("l_linestatus"),
      day("1995-01-02", 11, 2499).as("l_shipdate")))

    // documents: 10..99 words drawn from a 30-word vocabulary
    val words = array(vocab.map(lit): _*)
    val text = concat_ws(" ", transform(
      sequence(lit(1), (pick(1, 90) + 10).cast("int")),
      i => element_at(words,
        (pmod(xxhash64(col("id"), i, lit(seed)), lit(vocab.size.toLong)) + 1)
          .cast("int"))))
    save("documents", ids("documents").select(col("id").as("doc_id"),
        text.as("text"),
        element_at(array(Seq("en", "en", "en", "zh", "es", "de", "fr")
          .map(lit): _*), (pick(2, 7) + 1).cast("int")).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: unit-norm 64-d float vectors with a 10-way label
    val raw = transform(sequence(lit(1), lit(EmbeddingDim)),
      i => pmod(xxhash64(col("id"), i, lit(seed + 1)), lit(2000001L))
        .cast("double") / 1e6 - 1.0)
    save("embeddings", ids("embeddings").select(col("id").as("vec_id"),
        raw.as("raw"), pick(3, 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (a, y) => a + y * y))).cast("float")).as("embedding"),
        col("label")))

    // events: time-ordered over 30 days of January 2024
    val stepMicros = 30L * 86400L * 1000000L / n("events")
    save("events", ids("events").select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepMicros +
        pick(1, stepMicros)).cast("timestamp_ntz").as("ts"),
      pick(2, 150).as("user_id"),
      oneOf(3, Seq("signup", "error", "click", "view", "purchase"))
        .as("event_type"),
      round(lit(0.01) + unit(4) * unit(5) * 490.0, 2).as("value"),
      format_string("{\"k\": %d}", pick(6, 100)).as("props")))

    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$RowsFile"),
      n.toSeq.sorted.map { case (t, c) => s"$t $c" }.mkString("", "\n", "\n")
        .getBytes("UTF-8"))
  }

  /** Row count per table, written next to the tables. */
  val RowsFile = "_rows.txt"
  def readRows(dir: String): Map[String, Long] =
    scala.io.Source.fromFile(s"$dir/$RowsFile").getLines().map(_.split(' '))
      .map(a => a(0) -> a(1).toLong).toMap
}
