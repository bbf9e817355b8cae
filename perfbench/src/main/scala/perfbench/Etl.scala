package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.ops.{Cleaning, Columns, Mutation, Relational, Sinks, Sources}

/** Incremental load in the shape of the reference app: every ingest op
  * reads one dirty drop, cleans it through a Pipeline, joins it to the
  * customer and part dimensions and upserts it into a parquet fact table
  * partitioned by order year. Read ops aggregate over the whole table
  * accumulated so far (by year, city and status; by market segment);
  * compaction ops rewrite every partition.
  *
  * A pass loads every drop into an empty table. The table is reset
  * (untimed) before each pass.
  */
final class Etl(spark: SparkSession, c: Main.Conf, span: Spanner) extends Workload {
  private val dropDir = new File(c.data, "drops")
  private val drops: Seq[File] =
    Option(dropDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("drop_")).sortBy(_.getName).toSeq
  require(drops.nonEmpty, s"no drops under $dropDir")

  private val customer = graft.Tables.read(spark, c.data, "customer")
  private val part = graft.Tables.read(spark, c.data, "part")

  private val csvDdl =
    "line_id BIGINT, order_date STRING, cust_id BIGINT, part_id BIGINT, ship_city STRING, " +
      "priority STRING, status STRING, quantity STRING, unit_price STRING"
  private val columns = Seq("line_id", "order_date", "cust_id", "part_id", "ship_city",
    "priority", "status", "quantity", "unit_price")

  private val variants = Seq("Jkt" -> "Jakarta", "JAKARTA" -> "Jakarta",
    "Sby" -> "Surabaya", "Bdg" -> "Bandung", "Smg" -> "Semarang")

  private val clean: Pipeline = variants.foldLeft(
    Pipeline("clean_drop")
      .stage("project", Columns.select(_, columns))
      .stage("dedup", Cleaning.dedup)
      .stage("cast_quantity", Mutation.castColumn(_, "quantity", "int"))
      .stage("cast_price", Mutation.castColumn(_, "unit_price", "double"))
      .stage("cast_date", Mutation.castColumn(_, "order_date", "date"))
      .stage("fill", Cleaning.fillNulls(_, "UNKNOWN", 0d))) { case (p, (from, to)) =>
    p.stage(s"fold_$from", Mutation.replaceValue(_, "ship_city", from, to))
  }.stage("split_priority", Columns.splitColumnLiteral(_, "priority", "-"))

  /** Ops of one pass: an ingest per drop, the reads after every
    * `readEvery` ingests and a compaction after every `compactEvery`.
    */
  private val readEvery = 1
  private val compactEvery = 3

  private var table = ""
  private val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val finals = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def tableFor(p: Int): String = s"${c.work}/etl/pass_$p/fact"

  private def rm(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
    f.delete(): Unit
  }

  private def readDrop(f: File): DataFrame = span("sources.read") {
    if (f.getName.endsWith(".csv")) Sources.csv(spark, f.getPath, Some(csvDdl))
    else Sources.json(spark, f.getPath)
  }

  private def ingest(f: File): Unit = {
    val cleaned = span("pipeline")(clean(readDrop(f)))
    val joined = span("relational.join") {
      val withCust = Relational.join(cleaned, customer, "cust_id", "c_custkey")
      Relational.join(withCust, part, "part_id", "p_partkey")
        .select(col("line_id"), year(col("order_date")).as("order_year"), col("order_date"),
          col("cust_id"), col("c_mktsegment"), col("c_nationkey"), col("part_id"),
          col("p_size"), col("ship_city"), col("priority_1").cast("int").as("prio"),
          col("priority_2").as("prio_name"), col("status"), col("quantity"),
          round(col("unit_price") * 100).cast("long").as("price_cents"))
    }
    val years = joined.select("order_year").distinct().collect().map(_.getInt(0)).sorted
    years.foreach { y =>
      val dir = s"$table/order_year=$y"
      val rows = joined.filter(col("order_year") === y).drop("order_year")
      if (new File(dir).exists()) span("sinks.upsert")(Sinks.upsertParquet(spark, dir, rows, "line_id"))
      else span("sinks.write")(Sinks.parquet(rows, dir))
    }
  }

  private def summary(df: DataFrame): DataFrame =
    df.groupBy(col("order_year"), col("ship_city"), col("status"))
      .agg(count(lit(1)).as("n"), sum(col("quantity")).as("qty"),
        sum(col("quantity").cast("long") * col("price_cents")).as("revenue_cents"),
        sum(col("prio")).as("prio_sum"), sum(col("c_nationkey")).as("nation_sum"),
        sum(col("p_size")).as("size_sum"))

  private def segments(df: DataFrame): DataFrame =
    df.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("quantity").cast("long") * col("price_cents")).as("revenue_cents"))

  /** The two reads a dashboard makes after each load. */
  private val readQueries: Seq[(String, DataFrame => DataFrame)] =
    Seq("summary" -> summary, "segments" -> segments)

  private def readTable(q: DataFrame => DataFrame): Array[org.apache.spark.sql.Row] =
    q(span("sources.read")(Sources.parquet(spark, table))).collect()

  private def compact(): Unit =
    Option(new File(table).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("order_year=")).sortBy(_.getName)
      .foreach(d => span("sinks.compact")(Sinks.compactParquet(spark, d.getPath)))

  private def rowsJson(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
    rows.toSeq.map(r => (0 until r.length).map(i => r.get(i) match {
      case null => null
      case v: java.lang.Number => v.longValue
      case v => v.toString
    }))

  def prewarm(): Unit = ()

  /** One untimed pass into a scratch table, so that every timed op
    * (both drop formats, upserts into compacted partitions) runs warm.
    */
  def warmup(): Seq[(String, Option[String])] = {
    table = s"${c.work}/etl/warmup/fact"
    passOps(-1, record = false).map { op =>
      val err = try { op.run(); None } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      (s"warmup_${op.name}", err)
    }
  }

  override def beforePass(p: Int): Unit = {
    rm(new File(s"${c.work}/etl"))
    table = tableFor(p)
  }

  def ops(p: Int): Seq[Op] = passOps(p, record = true)

  private def passOps(p: Int, record: Boolean): Seq[Op] = drops.zipWithIndex.flatMap { case (f, i) =>
    val loaded = i + 1
    Seq(Op(s"ingest_${f.getName}", "ingest", () => ingest(f))) ++
      (if (loaded % readEvery == 0) readQueries.map { case (name, q) =>
        val op = s"${name}_after_$loaded"
        Op(op, "read", () => {
          val rows = readTable(q)
          if (record) reads += Map("pass" -> p, "op" -> op, "query" -> name, "loaded" -> loaded,
            "rows" -> rowsJson(rows))
        })
      } else Nil) ++
      (if (loaded % compactEvery == 0) Seq(Op(s"compact_after_$loaded", "compact", () => compact()))
       else Nil)
  }

  override def afterPass(p: Int): Map[String, Double] = {
    val files = Option(new File(table).listFiles()).getOrElse(Array.empty[File])
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File]))
      .count(_.getName.endsWith(".parquet"))
    val rows = try summary(Sources.parquet(spark, table)).collect() catch { case _: Throwable => Array.empty[org.apache.spark.sql.Row] }
    finals += Map("pass" -> p, "query" -> "summary", "loaded" -> drops.size, "rows" -> rowsJson(rows))
    Map("table_files" -> files.toDouble)
  }

  override def extra: Map[String, Any] = Map(
    "etl_reads" -> reads.toSeq, "etl_finals" -> finals.toSeq,
    "drops" -> drops.map(_.getName))
}
