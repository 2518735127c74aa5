package graft.tools

import scala.util.control.NonFatal

/** Once-per-round timing smoke over every declared query the bench's
  * headliner set does NOT cover, at oracle scale (sf0.01 by default).
  *
  * The bench times ~half the query surface; a pathological regression
  * in an un-benched query (say, a fixture self-join quietly going
  * quadratic) would pass the oracle (correct answer, tiny data) and
  * never show in BENCH_r{N}.json. This tool closes that blind spot at
  * smoke cost: ONE timed sample per non-headliner query, a committed
  * per-round ledger (SMOKE_TIMING.json), and a round-over-round suspect
  * gate that is deliberately loose — single samples on a shared box
  * swing 2-3×, so only a > [[SuspectRatio]]× slowdown that also costs
  * more than [[SuspectFloorSec]] absolute is named. Suspects are a
  * pointer for a human (re-time best-of-N, read the plan), never a
  * verdict — the methodology is one sample by design.
  *
  * Usage: `runMain graft.tools.TimingSmoke [outPath]`
  * (env: SPARK_GRAFT_SF_DIR to re-scale, SPARK_GRAFT_CPUS)
  */
object TimingSmoke {

  /** cur/prev ratio above which a query is a suspect... */
  val SuspectRatio = 5.0

  /** ...provided it also costs this much absolute (sub-second jitter on
    * single samples must never flag).
    */
  val SuspectFloorSec = 2.0

  /** Parse the previous committed ledger's per-query times, pure so a
    * spec can pin it. Whitespace-tolerant like Bench's prev parse (the
    * r4 lesson: a pretty-printed ledger must not silently reset the
    * comparison and disable the gate); a ledger recorded at another sf
    * resets the comparison deliberately; the queries-object extraction
    * is a guarded regex match, never an indexOf(-1) slice.
    */
  private[tools] def parsePrev(txt: String, sfDir: String): Map[String, Double] = {
    val sfOk = ("\"sf\"\\s*:\\s*" +
      java.util.regex.Pattern.quote(graft.Json.str(sfDir)))
      .r.findFirstIn(txt).isDefined
    if (!sfOk) Map.empty
    else {
      // the queries object is flat: parse exactly it, nothing after
      "\"queries\"\\s*:\\s*\\{".r.findFirstMatchIn(txt).map { m =>
        txt.indexOf("}", m.end) match {
          case -1 => Map.empty[String, Double]
          case close =>
            val qTxt = txt.substring(m.end, close)
            // the first-'}' slice is correct ONLY while the object stays
            // flat — a nested value would truncate the map and silently
            // half-disable the suspect gate; fail loudly instead
            require(!qTxt.contains("{"),
              "prev ledger's queries object is not flat — parsePrev's " +
                "first-'}' extraction would truncate it; update the parser")
            "\"([^\"]+)\"\\s*:\\s*([0-9][0-9.eE+-]*)".r.findAllMatchIn(qTxt)
              .map(g => g.group(1) -> g.group(2).toDouble).toMap
        }
      }.getOrElse(Map.empty)
    }
  }

  /** The suspect gate, pure so a spec can pin it. */
  private[tools] def suspects(cur: Map[String, Double], prev: Map[String, Double])
      : Map[String, (Double, Double)] =
    cur.flatMap { case (name, c) =>
      prev.get(name).collect {
        case p if p > 0 && c / p > SuspectRatio && c > SuspectFloorSec =>
          name -> (c, p)
      }
    }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val outPath = if (args.nonEmpty) args(0) else "SMOKE_TIMING.json"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.local(graft.Sessions.toolCpus, "graft-timing-smoke")

    val headliners = graft.SparkEntry.benchQueries.toSet
    val names = graft.SparkEntry.queries.keys.toSeq.filterNot(headliners).sorted
    val timed = names.map { name =>
      val t0 = System.nanoTime()
      val r =
        try { graft.SparkEntry.queries(name)(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
        catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}") }
      graft.Sessions.clearAll(spark)
      name -> r
    }
    val times = timed.collect { case (n, Right(t)) => n -> t }
    val errors = timed.collect { case (n, Left(m)) => n -> m }

    // previous committed ledger (same sf only — a re-scaled run resets
    // the comparison instead of flagging everything); see [[parsePrev]]
    val prev: Map[String, Double] =
      try parsePrev(
        java.nio.file.Files.readString(java.nio.file.Paths.get(outPath)), sfDir)
      catch { case NonFatal(_) => Map.empty }
    val sus = suspects(times.toMap, prev)

    val qs = times.map { case (n, t) => graft.Json.str(n) + ":" + f"$t%.3f" }
      .mkString("{", ",", "}")
    val es = errors.map { case (n, m) => graft.Json.str(n) + ":" + graft.Json.str(m.take(200)) }
      .mkString("{", ",", "}")
    val ss = sus.toSeq.sortBy(_._1).map { case (n, (c, p)) =>
      graft.Json.str(n) + f""":{"cur":$c%.3f,"prev":$p%.3f,"ratio":${c / p}%.2f}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"tool":"timing_smoke","sf":${graft.Json.str(sfDir)},""" +
        s""""n":${names.size},"n_failed":${errors.size},""" +
        s""""sampling":"single sample per query; suspect gate ${SuspectRatio}x AND > ${SuspectFloorSec}s",""" +
        s""""total":${times.map(_._2).sum},"queries":$qs,"errors":$es,"suspects":$ss}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    errors.foreach { case (n, m) => System.err.println(s"[smoke] FAILED $n: $m") }
    sus.foreach { case (n, (c, p)) =>
      System.err.println(f"[smoke] SUSPECT $n: $c%.2fs vs $p%.2fs last round") }
    println(line)
    spark.stop()
  }
}
