package graft

/** Local smoke harness mirroring the driver's entry check: runs
  * [[SparkEntry.entry]] (the end-to-end medallion flagship) twice —
  * the second pass proves ingest → promote → catalog is idempotent and
  * re-registerable in one session — and prints the result. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(LocalSpark.envCpus(8)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df1 = SparkEntry.entry(spark)
    df1.show(10, truncate = false)
    println(s"entry run 1 rows=${df1.count()}")
    val df2 = SparkEntry.entry(spark)
    println(s"entry run 2 rows=${df2.count()}")
    spark.stop()
  }
}
