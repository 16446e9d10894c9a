package graft.table

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Byte-for-byte copies of parquet files, for rows that can join a table
  * in the files they already sit in (a promoted raw run): nothing is
  * decoded or re-encoded. */
object ParquetCopy {

  /** Copy each `(src, dst)` pair in ONE Spark job with one task per file,
    * so no byte passes through the driver. Each task returns its copy's
    * (bytes, rows), the rows from the copy's own footer. When the copies
    * hold other than `expectRows` rows in total (a raw file replaced or
    * truncated since its run was counted) — or a copy task fails — every
    * copy is deleted and this throws: nothing copied outlives a failed
    * audit. */
  def copy(spark: SparkSession, pairs: Seq[(Path, Path)],
      expectRows: Long): Seq[(Long, Long)] = {
    val conf = org.apache.spark.sql.GraftBridge.shippableConf(spark)
    def dropCopies(): Unit = pairs.foreach { case (_, d) =>
      d.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(d, false)
    }
    val out =
      try spark.sparkContext
        .parallelize(pairs.map { case (s, d) => (s.toString, d.toString) },
          math.max(1, pairs.size))
        .map { case (s, d) =>
          val c = conf.value
          val (src, dst) = (new Path(s), new Path(d))
          FileUtil.copy(src.getFileSystem(c), src, dst.getFileSystem(c), dst,
            false, true, c)
          val copy = HadoopInputFile.fromPath(dst, c)
          val r = ParquetFileReader.open(copy)
          try (copy.getLength, r.getRecordCount) finally r.close()
        }.collect().toSeq
      catch { case e: Throwable => dropCopies(); throw e }
    val rows = out.map(_._2).sum
    if (rows != expectRows) {
      dropCopies()
      throw new IllegalStateException(
        s"row-count audit failed: ${pairs.map(_._1).mkString(", ")} hold " +
          s"$rows rows where $expectRows were counted when written — " +
          "nothing was committed")
    }
    out
  }
}
