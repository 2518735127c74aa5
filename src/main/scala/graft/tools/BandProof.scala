package graft.tools

import org.apache.spark.sql.functions._

/** Measures what the fuzzy join's `lengthBand` knob buys when blocks
  * are corpus-sized — the regime SURVEY's entity-resolution caveat
  * names (a fixed-entropy prefix key means blocks grow ∝ corpus and
  * candidate enumeration ∝ block²).
  *
  * Runs the FULL-LENGTH document self-linkage (no oracle-bounding head
  * truncation, so lengths genuinely vary 44–577 chars) over the ×F
  * replica, prefix-only vs banded, and reports wall time, the matched
  * row count (must be identical — the knob's zero-recall contract),
  * and the candidate-pair count each key admits (the work the join
  * must enumerate before the length filter and the thresholded
  * levenshtein verify see anything).
  *
  * Usage: `runMain graft.tools.BandProof <factor> <bandWidth> [outPath]`
  */
object BandProof {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    require(args.length >= 2, "usage: BandProof <factor> <bandWidth> [outPath]")
    val factor = args(0).toInt
    val w = args(1).toInt
    val outPath = if (args.length > 2) args(2) else s"bandproof_x$factor.json"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.toolCpus, "graft-bandproof")

    val dir = ScaleUp.ensure(spark, sfDir, factor)

    def records(side: String) = graft.Tables.documents(spark, dir)
      .select(col("doc_id").as(s"id_$side"), lower(col("text")).as(s"s_$side"))

    def timedCount(band: Int): (Double, Long) = {
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = graft.ops.Linkage.fuzzyJoin(records("a"), records("b"),
            "s_a", "s_b", maxDist = 2, prefixLen = 3, lengthBand = band)
          .filter(col("id_a") < col("id_b")).count()
        val t = (System.nanoTime() - t0) / 1e9
        graft.Sessions.clearAll(spark); (t, n)
      }
      once() // warm-up
      val (t1, n1) = once(); val (t2, n2) = once()
      require(n1 == n2); (math.min(t1, t2), n1)
    }

    // candidate pairs each key admits (before length filter + verify)
    def candidates(band: Int): Long = {
      val d = graft.Tables.documents(spark, dir)
        .select(lower(substring(col("text"), 1, 3)).as("p"),
          length(col("text")).as("len"))
      if (band == 0) {
        d.groupBy("p").count()
          .agg(sum(expr("count * (count - 1) / 2"))).head().getDouble(0).toLong
      } else {
        val l = d.withColumn("b", floor(col("len") / band))
        val r = d.withColumn("b2", explode(array(
          floor(col("len") / band) - 1, floor(col("len") / band),
          floor(col("len") / band) + 1)))
        // same accounting basis as the band-0 branch (unordered pairs):
        // matched ordered pairs across the two sides, self-matches
        // removed, halved
        (l.join(r, l("p") === r("p") && col("b") === col("b2")).count()
          - d.count()) / 2
      }
    }

    val (tPlain, nPlain) = timedCount(0)
    val (tBand, nBand) = timedCount(w)
    require(nPlain == nBand,
      s"banded blocking changed the answer: $nPlain vs $nBand")
    val cPlain = candidates(0)
    val cBand = candidates(w)

    val json =
      f"""{"factor":$factor,"band":$w,"sf":"$sfDir","matches":$nPlain,""" +
      f""""t_plain":$tPlain%.4f,"t_banded":$tBand%.4f,""" +
      f""""cand_plain":$cPlain,"cand_banded":$cBand}"""
    java.nio.file.Files.writeString(java.nio.file.Path.of(outPath), json)
    // tool output: labeled lines + the JSON record (not a bench surface,
    // no last-line contract here)
    println(s"[bandproof] $json")
    spark.stop()
  }
}
