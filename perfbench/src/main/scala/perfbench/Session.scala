package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: local mode on a fixed core count, with the
  * engine's shared tunings and the settings its own entry points use. */
object Session {
  def create(cores: Int, localDir: String): SparkSession = {
    val spark = graft.Sessions.tune(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
