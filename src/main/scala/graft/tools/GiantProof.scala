package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions.clearAll
import graft.ops.{CapMetrics, Dedup}

/** Giant-component stress proof for the dedup closure — the adversarial
  * case a 100 TB crawl actually hits: one boilerplate/template family
  * collapsing into a single giant near-dup component. The natural-corpus
  * scale ledgers (SCALING64*.json) exercise many SMALL families; this
  * tool measures the two giant-family failure modes explicitly, at ×1
  * and ×F:
  *
  *  1. **Giant DIAMETER** (pointer-doubling stress): a constructed chain
  *     component of n nodes (edges i—i+1, diameter n−1, the closure's
  *     worst case — deterministic edge set, no LSH recall noise). The
  *     pin is the ROUND COUNT: pointer doubling must close diameter d in
  *     O(log d) rounds, so ×F more nodes may add only ~log2(F) rounds; a
  *     regression to linear propagation shows up here as rounds ≈ d long
  *     before any wall-clock ledger moves.
  *
  *  2. **Giant FAMILY through the full pipeline** (cap + closure + stats):
  *     a sliding-window template corpus (doc i = words i..i+79, so
  *     consecutive docs sit at trigram-Jaccard ≈ 0.975 — one drifting
  *     template family, the realistic shape; see [[templateCorpus]] for
  *     why 80-word windows and 4 bands, and what the rejected 40-word/
  *     3-band geometry measurably did) PLUS an identical-text
  *     boilerplate block one past the super-bucket cap. The pipeline is
  *     exactly q_dedup_cluster_stats' (nearDupPairs → clusters → size
  *     histogram); recorded: elapsed, rounds, the largest family found,
  *     and the CapMetrics report proving the cap engaged on the
  *     identical block and the drop was NOT silent. (The capped block is
  *     held constant across scales — cap engagement is the binary being
  *     proven; the drifting family is the scaling subject.)
  *
  * Usage: `runMain graft.tools.GiantProof [factor] [outPath]`
  * (defaults: 64, GIANTPROOF.json). Writes one JSON object to outPath
  * and stdout.
  */
object GiantProof {

  /** Chain edges 0—1—2—…—(n−1): one component, diameter n−1. */
  private def chainEdges(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n - 1).select($"id".as("id_a"), ($"id" + 1).as("id_b"))
  }

  /** Drifting-template corpus: doc i = words t{i}..t{i+79} (trigram
    * Jaccard ≈ 0.975 between neighbors — one drifting template family),
    * plus an identical-text boilerplate block sized one past the cap
    * (ids offset to 10^9) so the super-bucket guard engages. Measured
    * banding note: md5 minima are deterministic and CORRELATED across
    * overlapping windows (one min-shingle leaving the window transitions
    * every band it owns for (i,i+1), (i,i+2) and (i−1,i+1) at once, so
    * bridge edges do not rescue a break) — at 40-word windows with 3
    * bands the ×64 family measurably fragments into ~5k-doc segments;
    * 80-word windows with 4 bands (k=8, the chunked-md5 max) put the
    * all-band transition rate at (4/79)⁴ ≈ 6e-6 per edge — measured
    * (GIANTPROOF.json): the ×64 run holds all 128k docs in ONE family.
    * The require below still tolerates a few giant segments (each would
    * be 10³–10⁵× a natural family — the stress stands); the
    * guaranteed-single-component O(log d) pin lives in the constructed
    * chain leg, where no banding sits between the edges and the closure.
    */
  private def templateCorpus(spark: SparkSession, nChain: Long,
                             nBoiler: Int): DataFrame = {
    import spark.implicits._
    val chain = spark.range(0, nChain).select($"id".as("doc_id"),
      array_join(transform(sequence($"id", $"id" + 79),
        j => concat(lit("t"), j)), " ").as("text"))
    val boiler = spark.range(0, nBoiler.toLong).select(
      ($"id" + 1000000000L).as("doc_id"),
      lit("lorem ipsum dolor sit amet consectetur adipiscing elit sed do").as("text"))
    chain.unionAll(boiler)
  }

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val factor = if (args.length > 0) args(0).toInt else 64
    val outPath = if (args.length > 1) args(1) else "GIANTPROOF.json"
    val spark = graft.Sessions.local(graft.Sessions.toolCpus, "graft-giantproof")
    val chainN0 = 20000L
    val corpusN0 = 2000L
    val nBoiler = Dedup.DefaultMaxBucket + 1000

    def closureLeg(n: Long): String = {
      clearAll(spark)
      val ((labels, rounds), secs) =
        time(Dedup.clustersWithRounds(chainEdges(spark, n)))
      // one component, min-id label everywhere — correctness of the
      // stress itself, not just its timing
      val distinct = labels.select("cluster_id").distinct().count()
      val size = labels.count()
      require(distinct == 1 && size == n,
        s"chain closure broken: $distinct components over $size nodes (want 1/$n)")
      System.err.println(
        f"[giantproof] closure n=$n rounds=$rounds secs=$secs%.2f")
      f"""{"nodes":$n,"diameter":${n - 1},"rounds":$rounds,"secs":$secs%.3f}"""
    }

    def pipelineLeg(n: Long): String = {
      clearAll(spark)
      CapMetrics.clear()
      val docs = templateCorpus(spark, n, nBoiler)
      val (res, secs) = time {
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8,
            k = 8)
          .select("id_a", "id_b")
        val (labels, rounds) = Dedup.clustersWithRounds(pairs)
        val hist = labels
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("sz") - 1).as("docs_removed"))
          .orderBy(col("sz").desc)
          .collect()
        (rounds, hist)
      }
      val (rounds, hist) = res
      val largest = if (hist.isEmpty) 0L else hist.head.getLong(0)
      val nFamilies = hist.map(_.getLong(1)).sum
      val clustered = hist.map(r => r.getLong(0) * r.getLong(1)).sum
      val cap = CapMetrics.get("minhash_lsh")
      require(cap.exists(_.engaged),
        "the identical-text block must engage the super-bucket cap")
      // the family must reach the closure as GIANT segments (orders of
      // magnitude beyond natural families), even where correlated band
      // transitions cut the drift chain — see templateCorpus
      require(largest >= n / 4 && clustered >= (n * 9) / 10,
        s"drifting family did not survive banding: largest=$largest, " +
          s"clustered=$clustered of $n")
      System.err.println(f"[giantproof] pipeline n=$n rounds=$rounds " +
        f"largest=$largest families=$nFamilies secs=$secs%.2f " +
        f"dropped=${cap.get.droppedRows}")
      f"""{"chain_docs":$n,"boiler_docs":$nBoiler,"rounds":$rounds,""" +
        f""""largest_family":$largest,"n_families":$nFamilies,""" +
        f""""docs_in_families":$clustered,"secs":$secs%.3f,""" +
        f""""cap_dropped_buckets":${cap.get.droppedBuckets},""" +
        f""""cap_dropped_rows":${cap.get.droppedRows}}"""
    }

    val c1 = closureLeg(chainN0)
    val cF = closureLeg(chainN0 * factor)
    val p1 = pipelineLeg(corpusN0)
    val pF = pipelineLeg(corpusN0 * factor)
    val line =
      s"""{"factor":$factor,"closure_chain":{"x1":$c1,"xf":$cF},""" +
        s""""full_pipeline":{"x1":$p1,"xf":$pF}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    spark.stop()
    println(line)
  }
}
