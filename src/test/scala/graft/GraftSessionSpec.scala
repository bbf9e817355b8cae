package graft

/** [[GraftSession]]: the volume rule as a pure function, and the confs
  * the shared test session carries.
  */
class GraftSessionSpec extends SparkSpec {

  test("volume rule: partitions from cores and bytes, AQE from 1 GiB") {
    val mb = 1L << 20
    assert(GraftSession.volumeRule(4, (1.9 * mb).toLong) === ((1, false)))
    assert(GraftSession.volumeRule(32, (17.5 * mb).toLong) === ((8, false)))
    assert(GraftSession.volumeRule(32, 2L << 30) === ((32, true)))
    assert(GraftSession.volumeRule(2, 0L) === ((1, false)))
  }

  test("shared test session carries the semantic and local-filesystem confs") {
    val conf = spark.sparkContext.getConf
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") === "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.extensions") === "graft.ext.GraftExtensions")
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ===
      "org.apache.hadoop.fs.RawLocalFileSystem")
  }
}
