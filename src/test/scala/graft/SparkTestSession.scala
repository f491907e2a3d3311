package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate reuses it),
  * built from the program's session profile. */
trait SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession()
      .master("local[4]")
      .appName("graft-test")
      // catalog tables (bucketing tests) land in a temp dir, not ./spark-warehouse
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** `body` with one session conf set, restored afterwards: a key the
    * session had not set is unset again (`getAll`, not `getOption`,
    * which reports a registered key's default as its value). */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
