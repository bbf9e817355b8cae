package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared Spark fixture: one local session per suite, built by
  * [[GraftSession]] like Verify's, on `local[4]` over the sf0.001 fixture.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
  def t(name: String, dir: String = "sf0.001"): DataFrame =
    Tables.read(spark, sf(dir), name)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("/root/testdata/sf0.001")
      .master("local[4]")
      // the multi-partition shuffle/rank/cumsum specs are written against
      // 4 partitions; the volume rule alone gives 1 on local[4]
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
