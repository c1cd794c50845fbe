package graft

import org.apache.spark.sql.SparkSession

/** SQL entry point: register every fixture table as a temp view (plus
  * the custom functions) so `spark.sql("...")` works over the engine's
  * data — the SQL surface SURVEY §2 declares on top of Catalyst.
  * Pearson r in SQL is the built-in form of `pipeline.Network.pearson`,
  * `try_divide(covar_samp(x, y), stddev_samp(x) * stddev_samp(y))`
  * (NULL on a constant series, where `corr` throws under ANSI).
  */
object Views {
  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def register(spark: SparkSession, dir: String): Unit = {
    functions.GraftFunctions.ensureRegistered(spark)
    functions.SimhashAggs.register(spark)
    // existence via the path's OWN filesystem: java.io.File.exists is
    // false for every hdfs://a/s3a:// path, which would "successfully"
    // register zero views and surface as TABLE_OR_VIEW_NOT_FOUND far
    // from the cause
    val hconf = spark.sparkContext.hadoopConfiguration
    var registered = 0
    tables.foreach { t =>
      val path = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      if (path.getFileSystem(hconf).exists(path)) {
        val df = if (t == "events") Tables.events(spark, dir) else Tables(spark, dir, t)
        df.createOrReplaceTempView(t)
        registered += 1
      }
    }
    require(registered > 0,
      s"Views.register: no fixture tables found under '$dir' — wrong dir or filesystem?")
  }
}
