package graft.tools

import scala.util.control.NonFatal

/** Runs EVERY declared query against a degenerate corpus — zero-row
  * (`empty`) or single-row (`one`) copies of each testdata table — and
  * reports which queries throw. The oracle gate only ever sees sf0.01,
  * so the degenerate domains (max over no rows, ANSI division by an
  * empty-count total, `.head` on an empty frame, a vocabulary of zero
  * grams) are exactly the inputs nothing else sweeps, and exactly what
  * a 100 TB pipeline hits on its first empty partition, dead tenant, or
  * freshly-truncated source.
  *
  * A query PASSES when it plans and executes without throwing; the row
  * count is recorded but not asserted (0 rows is a legitimate answer to
  * an empty corpus). Failures record the exception class + first line.
  *
  * Usage: `runMain graft.tools.DegenerateSweep <empty|one> [outPath]`
  */
object DegenerateSweep {

  /** Builds `<tmp>/graft_degenerate/<mode>` from sf0.001: each table
    * truncated to `n` rows, schema preserved. events.ts arrives as
    * TIMESTAMP(NANOS) in some drops — the nanosAsLong conf is set
    * before the raw read, so the truncated copy lands as epoch-long,
    * which `Tables.events` already normalizes on read.
    */
  def ensure(spark: org.apache.spark.sql.SparkSession, n: Int, mode: String): String = {
    val src = "/root/testdata/sf0.001"
    val dst = s"${sys.props("java.io.tmpdir")}/graft_degenerate/$mode"
    val done = new java.io.File(s"$dst/_SWEEP_READY")
    if (done.exists()) return dst
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tables = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName.stripSuffix(".parquet"))
    tables.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").limit(n)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    done.createNewFile()
    dst
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val mode = if (args.nonEmpty) args(0) else "empty"
    require(mode == "empty" || mode == "one", s"unknown mode $mode")
    val outPath = if (args.length > 1) Some(args(1)) else None
    val spark = graft.Sessions.local(graft.Sessions.toolCpus, s"graft-degenerate-$mode")
    val dir = ensure(spark, if (mode == "empty") 0 else 1, mode)

    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val results = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      try {
        val rows = fn(spark, dir).collect().length
        graft.Sessions.clearAll(spark)
        name -> Right(rows)
      } catch {
        case NonFatal(e) =>
          graft.Sessions.clearAll(spark)
          val root = { var c: Throwable = e; while (c.getCause != null && c.getCause != c) c = c.getCause; c }
          val msg = s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString}"
          name -> Left(msg)
      }
    }
    val fails = results.collect { case (n, Left(m)) => n -> m }
    val passes = results.collect { case (n, Right(r)) => n -> r }
    println(s"[degenerate:$mode] ${passes.length}/${results.length} queries executed cleanly")
    fails.foreach { case (n, m) => println(s"FAIL $n  $m") }
    val json = {
      val failObj = fails.map { case (n, m) =>
        s""""$n":"${m.replace("\\", "\\\\").replace("\"", "\\\"")}"""" }.mkString(",")
      s"""{"mode":"$mode","pass":${passes.length},"total":${results.length},"fails":{$failObj}}"""
    }
    outPath.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
    println(json)
  }
}
