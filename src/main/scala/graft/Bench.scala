package graft

import scala.collection.mutable

/** Benchmark harness: runs every [[SparkEntry.queries]] entry against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":…,"queries":{…},…}`.
  *
  * Each query runs in its OWN forked JVM ([[BenchChild]]) — round 3
  * showed ~150 s of cross-query interference inside one shared session
  * (accumulated temp views/memory tables/codegen caches + GC pressure
  * put 20–50 s on trivially-planned queries late in the run, e.g. a 51 s
  * q21 whose plan is <1 s). A fresh JVM per query is the only isolation
  * that makes the per-query numbers attributable to the plan. The
  * parent needs no SparkSession at all.
  *
  * Failures are NOT swallowed: a query whose child exits nonzero (or
  * times out) is recorded under `"errors"` with no timing at all, and
  * the bench itself exits nonzero — a regression that breaks a query can
  * only make the bench fail, never look faster.
  */
object Bench {
  // mirrors build.sbt's jdk17AddOpens (children bypass sbt's javaOptions)
  private val AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val mem = sys.env.getOrElse("SPARK_GRAFT_CHILD_MEM", "16g")
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_CHILD_TIMEOUT_SEC", "600").toLong
    val names = SparkEntry.queries.keys.toSeq.sorted
    val times = mutable.LinkedHashMap.empty[String, Double]
    val repTimes = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val errors = mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      val cmd = (Seq(javaBin) ++ AddOpens ++ Seq(
        s"-Xmx$mem",
        "-Dspark.ui.enabled=false",
        "-cp", cp, "graft.BenchChild", name, sfDir)).toArray
      // streams go to temp files: piping would deadlock on a full pipe
      // buffer (Spark logs to stderr) or hang readAllBytes on a hung child
      val outF = java.nio.file.Files.createTempFile("bench-", ".out").toFile
      val errF = java.nio.file.Files.createTempFile("bench-", ".err").toFile
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectOutput(outF)
      pb.redirectError(errF)
      val proc = pb.start()
      val finished = proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      val out = java.nio.file.Files.readString(outF.toPath)
      val err = java.nio.file.Files.readString(errF.toPath)
      outF.delete(); errF.delete()
      if (!finished) {
        proc.destroyForcibly()
        errors(name) = s"timeout after ${timeoutSec}s"
      } else if (proc.exitValue() != 0) {
        errors(name) = err.linesIterator.toSeq.takeRight(3).mkString(" | ")
          .replaceAll("[\"\\\\]", "'").take(300)
      } else {
        out.linesIterator.find(_.startsWith("BENCHCHILD ")) match {
          case Some(line) => times(name) = line.stripPrefix("BENCHCHILD ").trim.toDouble
          case None => errors(name) = "child produced no BENCHCHILD line"
        }
        out.linesIterator.find(_.startsWith("BENCHCHILD_REPS ")).foreach { line =>
          repTimes(name) = line.stripPrefix("BENCHCHILD_REPS ").trim
            .split(',').toSeq.filter(_.nonEmpty).map(_.toDouble)
        }
      }
      System.err.println(s"[bench] $name " +
        times.get(name)
          .map(t => String.format(java.util.Locale.ROOT, "%.2fs", Double.box(t)))
          .getOrElse(s"FAILED: ${errors.getOrElse(name, "?")}"))
    }
    // The driver tail-captures only the LAST ~2000 chars of output, and sbt
    // appends its own "[success] ..." line after ours — a full-precision
    // 74-query JSON line (~3.5 KB) gets head-truncated and fails to parse
    // (every BENCH_r1–r5 has parsed:null). Print a 2-decimal compact line
    // (fits with headroom) and keep full precision in bench_full.json.
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
    // comma decimal separator (de_DE etc.) would make the one JSON line the
    // driver parses invalid.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, if (v >= 10) "%.1f" else "%.2f", Double.box(v))
    val qs = times.map { case (k, v) => s"\"$k\":${fmt(v)}" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"\"$k\":\"$v\"" }.mkString("{", ",", "}")
    val total = times.values.sum
    // anchored so "sf1." can't yield a bare non-JSON "1."; fallback strips
    // JSON-breaking chars the same way error strings do
    val sfNum = "sf([0-9]+(\\.[0-9]+)?)/?$".r.findFirstMatchIn(sfDir).map(_.group(1))
      .getOrElse("\"" + sfDir.replaceAll("[\"\\\\]", "'") + "\"")
    val fullQs = times.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    // per-rep samples let a later reader judge run-to-run spread (min alone
    // can't distinguish a real 2x regression from fork variance on sub-second
    // queries — the r5→r6 deltas were 1.7–2.4x pure noise)
    val repsJson = repTimes.map { case (k, vs) => s"\"$k\":[${vs.mkString(",")}]" }
      .mkString("{", ",", "}")
    val sfDirJson = "\"" + sfDir.replaceAll("[\"\\\\]", "'") + "\""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"rep_times":$repsJson,"errors":$errJson,"n_failed":${errors.size},"sf":$sfDirJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_full.json"), full + "\n")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errJson,"n_failed":${errors.size},"sf":$sfNum}""")
    if (errors.nonEmpty) sys.exit(1)
  }
}

/** One query in one fresh JVM: builds its own SparkSession, runs the
  * query `SPARK_GRAFT_BENCH_REPS` times (default 7), prints
  * `BENCHCHILD <min-seconds>` plus `BENCHCHILD_REPS <t1,t2,…>` and
  * exits 0; any failure propagates as a nonzero exit (the parent
  * records it — never a timing). */
object BenchChild {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir) = args
    // min-of-7 in one JVM: rep 1 pays JIT/codegen warmup (~3-5 s even on
    // trivial plans); 6 post-warmup samples give min() enough draws that
    // host-noise stalls (single reps inflate 3-10x on this VM — see
    // BASELINE.md "Host-noise floor") can't masquerade as a regression.
    // Only sub-budget (light) queries run all 7; the time budget below
    // still caps heavy ones at >= 3 draws.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "7").toInt
    val spark = LocalSpark.builder(LocalSpark.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    // adaptive reps: light queries get the full rep count (JIT warmup
    // matters at their scale); a query already past the budget is
    // dominated by real work, not warmup, so stop early — but NEVER
    // below 3 reps: this VM shows hypervisor CPU steal spikes that can
    // inflate a single rep 10-35x (run-to-run evidence in bench_full
    // rep_times), and with only 2 draws the min can land on two stalled
    // reps and report a phantom 3x regression. Worst case cost: a 60 s
    // query runs 3 min, still far inside the 600 s child timeout.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "45").toDouble
    val minReps = math.min(reps, 3)
    // The 3-rep floor must still respect the parent's kill timeout: a
    // query slow enough (or stall-inflated enough) that reps already sum
    // past ~60% of the child timeout records the timings it HAS rather
    // than dying at the timeout and recording a failure — one honest
    // draw beats zero. 0.6x leaves headroom for the rep in flight (the
    // next rep can be as slow as all previous ones combined on a stall).
    val hardStopSec = 0.6 * sys.env
      .getOrElse("SPARK_GRAFT_CHILD_TIMEOUT_SEC", "600").toDouble
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (i < reps && times.sum < hardStopSec &&
        (i < minReps || times.sum < budgetSec)) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      times += (System.nanoTime() - t0) / 1e9
      // per-query localCheckpoint blocks are query-internal; drop them so
      // the next rep starts cold-equivalent. BLOCKING: with async removal
      // the next rep races the block-manager cleanup for storage memory,
      // and checkpoint-heavy queries (dd_clusters: one block set per
      // label-propagation round) measured 3-8x slower on rep 2 than on
      // rep 3 from that churn alone. A GC settle then keeps rep-boundary
      // garbage from being collected mid-measurement.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      i += 1
    }
    println(s"BENCHCHILD ${times.min}")
    println(s"BENCHCHILD_REPS ${times.mkString(",")}")
    spark.stop()
  }
}
