package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory every main here uses. */
object Session {

  /** `local[cpus]` with one shuffle partition per core, UTC session
    * time (the dump writer renders a literal 'Z'), no UI, WARN
    * logging. Each main picks its own `cpus` default. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
