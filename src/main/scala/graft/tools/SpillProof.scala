package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Memory-pressure posture proof: the heaviest shuffle pipelines must
  * DEGRADE TO SPILL, not OOM, when execution memory is scarce — the
  * situation every 100 TB executor is in, which the roomy 8 GiB local
  * harness never exercises (every scale proof so far ran with full
  * unified memory headroom).
  *
  * Two passes over the SAME ×F scaled dir:
  *   1. a normal [[graft.Sessions.local]] session computes each query's
  *      reference digest (row count + order-independent decimal sum of
  *      per-row xxhash64 — exact, no overflow);
  *   2. a fresh context with `spark.memory.fraction` squeezed to 0.05
  *      (~390 MB of unified memory for 32 concurrent tasks at -Xmx8g —
  *      per-task execution memory in the ~12 MB range, far below the
  *      ×F shuffle/aggregate working sets) re-runs each query and must
  *      (a) complete and (b) reproduce the digest bit-for-bit.
  * [[Profile.Listener]] totals memory+disk spill bytes so the record PROVES
  * the pressure was real: zero spill would mean the squeeze didn't bite
  * and the pass proves nothing. `spark.memory.fraction` is a static
  * conf, hence two sequential SparkContexts rather than two sessions.
  *
  * Usage: `runMain graft.tools.SpillProof [factor] [q1,q2,...] [outPath]`
  * Defaults: ×64, the two heaviest shuffle headliners, SPILLPROOF.json.
  */
object SpillProof {

  private val SqueezedFraction = "0.05"

  /** Order-independent exact digest: (rows, Σ xxhash64(row) as
    * decimal(38,0)). Null cells hash as a sentinel so a null/""
    * difference is visible.
    */
  private def digest(spark: SparkSession, name: String, dir: String): (Long, String) = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    val strCols = df.columns.toSeq.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000null")))
    val r = df
      .select(xxhash64(strCols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s"))
      .collect()(0)
    (r.getLong(0), String.valueOf(r.getDecimal(1)))
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val factor = args.headOption.map(_.toInt).getOrElse(64)
    val names =
      if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq("q_ngram_spans_hashed", "q_dedup_funnel")
    val outPath = if (args.length > 2) args(2) else "SPILLPROOF.json"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names.foreach { n =>
      require(graft.SparkEntry.queries.contains(n), s"unknown query $n") }

    // pass 1: reference digests under normal memory
    val ref = {
      val s = graft.Sessions.local(32, "graft-spillproof-ref")
      try {
        val dir = ScaleUp.ensure(s, sfDir, factor)
        (dir, names.map(n => n -> digest(s, n, dir)).toMap)
      } finally s.stop()
    }
    val (scaledDir, refDigests) = ref

    // pass 2: squeezed unified memory, spill accounting on
    val squeezed = SparkSession.builder()
      .master("local[32]")
      .appName("graft-spillproof-squeezed")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.memory.fraction", SqueezedFraction)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    squeezed.sparkContext.setLogLevel("WARN")
    val stages = new Profile.Listener
    squeezed.sparkContext.addSparkListener(stages)
    val rows = try names.map { n =>
      stages.reset()
      val t0 = System.nanoTime()
      val (nRows, h) = digest(squeezed, n, scaledDir)
      val t = (System.nanoTime() - t0) / 1e9
      // stage events arrive asynchronously: drain the bus so every stage
      // of this query is counted, and none credits the next one
      org.apache.spark.sql.graftshim.Shim.waitForListenerBus(squeezed)
      val spill = stages.spillBytes
      val (refRows, refH) = refDigests(n)
      val ok = nRows == refRows && h == refH
      System.err.println(f"[spillproof] $n rows=$nRows match=$ok " +
        f"spilled=${spill / 1024 / 1024} MiB t=$t%.1f s")
      require(ok, s"$n digest under memory pressure diverged: " +
        s"($nRows,$h) vs reference ($refRows,$refH)")
      (n, nRows, spill, t)
    } finally squeezed.stop()

    val qjson = rows.map { case (n, nRows, spill, t) =>
      graft.Json.str(n) +
        f""":{"rows":$nRows,"digest_match":true,"spilled_bytes":$spill,"secs":$t%.2f}"""
    }.mkString("{", ",", "}")
    val line = s"""{"factor":$factor,"sf":${graft.Json.str(sfDir)},""" +
      s""""memory_fraction":$SqueezedFraction,"queries":$qjson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    println(line)
  }
}
