package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbench.Trace
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.operators.BalancedRepartition
import graft.pipeline.CensoPipeline
import graft.sources.{CatalogTables, SchemaCsv}

/** Where an op reads and writes: the generated tables and a private work
  * directory, both inside the benchmark's build directory.
  */
final case class Ctx(spark: SparkSession, data: String, work: String,
                     trace: Trace) {
  def table(name: String): DataFrame = Tables(spark, data, name)
}

/** One answer an op returns: the fingerprint key it is checked against and
  * the collected rows.
  */
final case class Answer(key: String, schema: StructType, rows: Array[Row])

/** One timed call. `build` is everything up to the DataFrame the op hands
  * back (including any job the module runs eagerly to plan it); `execute`
  * materialises it and returns the answers to check.
  */
trait Op {
  def name: String
  def build(c: Ctx): DataFrame
  def execute(c: Ctx, df: DataFrame): Seq[Answer] = {
    val rows = df.collect()
    Seq(Answer(name, df.schema, rows))
  }
  /** Input tables the op reads; `None` means take them from the plan. */
  def tables: Option[Seq[String]] = None
}

/** A key of graft's public `SparkEntry.queries` map, called as is. */
final case class QueryKey(name: String) extends Op {
  def build(c: Ctx): DataFrame = SparkEntry.queries(name)(c.spark, c.data)
}

/** The reference transform composed from public calls: censo recode
  * pipeline → salted balanced repartition → idempotent hive-partitioned
  * parquet sink → external catalog table → SQL read-back. The full
  * read-back must equal `a11_censo_pipeline`'s answer; the
  * partition-pruned one its `Refused` slice.
  */
object CensoEtl extends Op {
  val name = "censo_etl_pipeline"
  val table = "graftbench_censo"
  override val tables = Some(Seq("lineitem"))

  def build(c: Ctx): DataFrame =
    BalancedRepartition(
      CensoPipeline.run(CensoPipeline.censoLike(c.table("lineitem")), year = 2020),
      Seq("TP_RETURN"), rowsPerFile = 4000L)

  private val readBack =
    s"""SELECT TP_RETURN, year(DT_SHIP) AS yr, IN_ANY, count(*) AS cnt,
       |sum(NU_QTY) AS sum_qty FROM $table %s
       |GROUP BY TP_RETURN, year(DT_SHIP), IN_ANY""".stripMargin

  override def execute(c: Ctx, df: DataFrame): Seq[Answer] = {
    val path = s"${c.work}/censo_sink"
    c.trace.timed("sources.sink_s", parent = "execute") {
      SchemaCsv.writePartitionedIdempotent(df, path, Seq("TP_RETURN"))
    }
    c.trace.sinkWritten(path)
    c.trace.timed("sources.commit_s", parent = "execute") {
      CatalogTables.registerExternal(c.spark, table, path, Seq("TP_RETURN"))
    }
    Seq("a11_censo_pipeline" -> "",
        "censo_etl_pruned" -> "WHERE TP_RETURN = 'Refused'").map {
      case (key, where) =>
        val q = c.spark.sql(readBack.format(where))
        Answer(key, q.schema, q.collect())
    }
  }
}

/** A batch workload: a fixed op list run in a seed-shuffled order per pass. */
final case class Batch(name: String, ops: Seq[Op])

object Workloads {
  val batch: Map[String, Batch] = Seq(
    Batch("censo_query", CensoEtl +: Seq("q1_agg", "q5_star_join",
      "b20_quantile_sketch").map(QueryKey)),
    Batch("curation_dedup", Seq("c39_curation_pipeline", "c2_minhash_lsh",
      "c17_gopher_quality").map(QueryKey))
  ).map(b => b.name -> b).toMap
}
