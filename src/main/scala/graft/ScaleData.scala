package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe data generator: expand the driver's sf0.1 fixtures to a
  * larger scale factor WITHOUT changing the workload's shape, so the
  * sf0.1 → sf1.0 scaling exponent of each heavy query family measures
  * the ENGINE, not a differently-shaped corpus.
  *
  *  - `documents` ×K: replica 0 is the original corpus (its natural
  *    near/exact-dup rate intact); replicas 1..K-1 regenerate each
  *    document's text as a fresh deterministic draw from the SAME
  *    frequency-weighted corpus vocabulary at the SAME word count —
  *    identical token/length distribution, no artificial duplicate
  *    clusters (replicating text verbatim would plant a size-K
  *    near-dup cluster on EVERY doc and quadratically distort the
  *    dedup families this data exists to probe).
  *  - `orders` ×K: replicas shift `o_orderdate` by whole months past
  *    the span — MORE HISTORY at the same per-month density, the
  *    100 TB time-series shape (keeping dates would grow q55's
  *    ts-equality self-join output ×K² — a different query, not a
  *    scaled one). Keys shift by a stride so they stay distinct.
  *  - `events` ×K: same more-history shift, whole hours.
  *
  * Determinism: every draw is a per-(doc, replica, position) Murmur3
  * hash — re-runs are byte-identical, no RNG state.
  *
  * Usage: runMain graft.ScaleData <srcDir> <dstDir> [K=10]
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSpark.builder(LocalSpark.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    documentsTimesK(spark, src, dst, k)
    ordersTimesK(spark, src, dst, k)
    eventsTimesK(spark, src, dst, k)
    embeddingsTimesK(spark, src, dst, k)
    customerTimesK(spark, src, dst, k)
    println(s"[scaledata] wrote documents/orders/events/embeddings/" +
      s"customer x$k to $dst")
    spark.stop()
  }

  /** `customer` ×K (the DML/merge probe table — q48/q54/q62 fixtures
    * append it): replica r shifts `c_custkey` by a stride so keys stay
    * distinct; every other column copies verbatim — per-key the merge/
    * update/delete predicates see the SAME distribution, so a 10× run
    * is 10× the rows of identical shape, not a different workload. */
  private def customerTimesK(spark: SparkSession, src: String,
      dst: String, k: Int): Unit = {
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val reps = (1 until k).map { r =>
      cust.withColumn("c_custkey",
        col("c_custkey") + lit(r.toLong * 10000000L))
    }
    reps.foldLeft(cust)(_ unionByName _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
  }

  /** `embeddings` ×K: replica k applies a cyclic rotation of k
    * positions to each vector — norms, within-replica pairwise dot
    * products and the label geometry are preserved EXACTLY (the ANN
    * recall structure is the same per replica), while cross-replica
    * similarities decorrelate; ids shift by a stride. */
  private def embeddingsTimesK(spark: SparkSession, src: String,
      dst: String, k: Int): Unit = {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val reps = (1 until k).map { r =>
      emb.select(
        (col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
        expr(s"concat(slice(embedding, ${r + 1}, size(embedding) - $r), " +
          s"slice(embedding, 1, $r))").as("embedding"),
        col("label"))
    }
    reps.foldLeft(emb)(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }

  /** Frequency-weighted vocabulary of the corpus, as (word, cumulative
    * count) sorted by word — bounded collect (the synthetic corpus
    * vocabulary is tiny; cap guards a pathological input). */
  private def vocabOf(docs: DataFrame): (Array[String], Array[Long]) = {
    val rows = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").count()
      .orderBy("w")
      .limit(65536)
      .collect()
    val words = rows.map(_.getString(0))
    val cum = rows.map(_.getLong(1)).scanLeft(0L)(_ + _).drop(1)
    (words, cum)
  }

  private def documentsTimesK(spark: SparkSession, src: String,
      dst: String, k: Int): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val (words, cum) = vocabOf(docs)
    val total = cum.last
    val bWords = spark.sparkContext.broadcast(words)
    val bCum = spark.sparkContext.broadcast(cum)
    // data-gen harness UDF (not a product operator): draw `n` words for
    // (docId, rep), weighted by corpus frequency, xxhash64-deterministic
    val gen = udf { (docId: Long, rep: Int, n: Int) =>
      val ws = bWords.value; val cs = bCum.value
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(
          docId * 1000003L + i, rep * 2654435761L.toInt)
        val u = java.lang.Math.floorMod(h.toLong, total)
        var lo = 0; var hi = cs.length - 1
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cs(mid) > u) hi = mid else lo = mid + 1
        }
        if (i > 0) sb.append(' ')
        sb.append(ws(lo))
        i += 1
      }
      sb.toString
    }
    val reps = (1 until k).map { r =>
      docs.select(
        (col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
        gen(col("doc_id"), lit(r),
          size(split(col("text"), " "))).as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }
    reps.foldLeft(docs)(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
  }

  private def ordersTimesK(spark: SparkSession, src: String,
      dst: String, k: Int): Unit = {
    val orders = spark.read.parquet(s"$src/orders.parquet")
    // whole-month shift past the span keeps month-partition alignment
    // exact (q55's month(ts) hidden partitioning) and per-month density
    // constant: 1995-01..2001-08 spans 80 months → stride 84
    val strideMonths = 84
    val reps = (1 until k).map { r =>
      orders
        .withColumn("o_orderkey", col("o_orderkey") + lit(r.toLong * 1000000000L))
        .withColumn("o_orderdate",
          add_months(col("o_orderdate"), r * strideMonths)
            .cast("timestamp"))
    }
    reps.foldLeft(orders)(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
  }

  private def eventsTimesK(spark: SparkSession, src: String,
      dst: String, k: Int): Unit = {
    val events = spark.read.parquet(s"$src/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    // events span ~30 days → stride 31 days, whole hours preserved
    val reps = (1 until k).map { r =>
      events
        .withColumn("event_id", col("event_id") + lit(r.toLong * 1000000000L))
        .withColumn("ts",
          (col("ts").cast("long") + lit(r.toLong * 31L * 86400L))
            .cast("timestamp"))
    }
    reps.foldLeft(events)(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
  }
}
