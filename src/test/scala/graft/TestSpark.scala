package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Test/fork gives the JVM the
  * JDK-17 add-opens; the session is never stopped — the forked test JVM
  * exits at the end of the run). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = LocalSpark.builder(4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"
}
