package graftbench

import graft.testkit.Scenario
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generated input tables (written by perfbench/inputs.py) as the
  * program sees them, plus the digests and the check that the linking
  * tables are exactly what graft's own `testkit.Scenario` generates.
  */
object Inputs {

  /** The record id every workload derives from a string key. */
  def idOf(key: Column): Column = xxhash64(key)

  def read(spark: SparkSession, dir: String, table: String): DataFrame =
    graft.sources.Warehouse.read(spark, "parquet", s"$dir/$table")

  /** Order-invariant digest: row count, XOR and 32-bit sum of row hashes. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.agg(
      count(lit(1)),
      coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L))).head()
    f"${r.getLong(0)}%d-${r.getLong(1)}%016x-${r.getLong(2)}%x"
  }

  /** Judgements keyed by record id: (left_id, right_id, verdict). */
  def judgements(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "judgements").select(
      idOf(col("left_key")).as("left_id"), idOf(col("right_key")).as("right_id"),
      col("verdict"))

  val Features = Seq("company", "postcode")
  /** Seventh character of the company name replaced. */
  private val typo = Scenario.Replace("^(.{6}).", "$1z")
  /** Variation slots: two crm rows and three web rows per entity. */
  val CrmSlots: Seq[Map[String, Scenario.Variation]] = Seq(
    Map.empty,
    Map("company" -> Scenario.Suffix(" ltd")))
  val WebSlots: Seq[Map[String, Scenario.Variation]] = Seq(
    Map("company" -> typo, "postcode" -> Scenario.Suffix("-9")),
    Map("company" -> Scenario.Prefix("the ")),
    Map("company" -> typo))
  val RowsPerEntity: Int = CrmSlots.size + WebSlots.size

  /** Do the generated crm, web and truth tables in `dir` equal, as row
    * multisets, what `Scenario` builds for `seed`?
    */
  def matchesScenario(spark: SparkSession, dir: String, seed: Long): Boolean = {
    val truth = read(spark, dir, "truth")
    val entities = truth.count() / RowsPerEntity
    val ents = Scenario.entities(spark, entities, seed, Features)
    val crm = Scenario.source(ents, "crm", CrmSlots)
    val web = Scenario.source(ents, "web", WebSlots)
    def same(a: DataFrame, b: DataFrame): Boolean = {
      val cols = a.columns.sorted.map(col)
      val (x, y) = (a.select(cols: _*), b.select(cols: _*))
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    }
    same(read(spark, dir, "crm"), crm.drop("entity_id")) &&
      same(read(spark, dir, "web"), web.drop("entity_id")) &&
      same(truth, crm.select("key", "entity_id").unionByName(web.select("key", "entity_id")))
  }
}
