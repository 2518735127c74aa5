package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ×F replication of a testdata sf dir — the scale-proof
  * harness's data side. Every number the bench publishes is measured at
  * sf0.1 (~17 MB); the open question for a 100 TB deployment is the
  * EXPONENT, not the constant: does each query's runtime grow ~linearly
  * with input, or is something quadratic hiding below the noise floor?
  * Replicating the same distribution ×8 and re-timing answers that
  * without any new testdata.
  *
  * Replication must preserve per-row cost characteristics, so it salts
  * key DOMAINS, not rows:
  *  - fixed dimensions (region, nation) stay as-is — TPC-H semantics,
  *    where dims don't grow with SF;
  *  - every other table gets F copies with all int64 entity keys shifted
  *    by `copy * 2^40` — one offset per key domain, so FK joins stay
  *    consistent (copy 2's lineitem joins copy 2's orders) and join
  *    selectivity per row is UNCHANGED;
  *  - `documents.text` is token-salted per copy (`word` → `word~c`,
  *    copy 0 untouched): shingle/minhash/LSH structure within a copy is
  *    identical to the original, while shingles across copies are
  *    disjoint. This is the load-bearing choice: replicating text
  *    VERBATIM would put 8 identical docs in every LSH band bucket and
  *    grow candidate pairs ~quadratically (8 copies → 64× pairs) — the
  *    scaling measurement would then report the data generator's
  *    artifact, not the engine's exponent. Token salting makes every
  *    content-driven pipeline's work scale exactly ×F;
  *  - embeddings keep their vectors (ANN cost is scan/bucket-size
  *    driven, both exactly ×F under replication); vec_ids are salted.
  *
  * The transform is a single narrow pass per table (explode over the
  * copy sequence — zero shuffle), and the output is marker-guarded so
  * repeated bench runs reuse it.
  */
object ScaleUp {

  /** One offset per copy per key domain: far above any real key at any
    * test SF (keys are < 2^31), far below int64/double-exact range even
    * at factor 64 (2^40·64 = 2^46 < 2^53).
    */
  val KeyOffset: Long = graft.Tables.KeyOffset

  private val FixedDims = Set("region", "nation")

  /** int64 entity-key columns to shift, by table. */
  private val KeyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def replicate(df: DataFrame, table: String, factor: Int): DataFrame = {
    val fanned = df.withColumn("__c", explode(sequence(lit(0L), lit(factor - 1L))))
    val keyed = KeyCols.getOrElse(table, Seq.empty).foldLeft(fanned) { (d, k) =>
      d.withColumn(k, col(k) + col("__c") * KeyOffset)
    }
    val salted =
      if (table != "documents") keyed
      else keyed
        .withColumn("text",
          when(col("__c") === 0, col("text"))
            .otherwise(array_join(
              transform(split(col("text"), " "),
                w => concat(w, lit("~"), col("__c"))), " ")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    salted.drop("__c")
  }

  /** Materialize `<tmpdir>/graft_scaleup/<basename>x<factor>` from
    * `sfDir` exactly once (guarded by a `_COMPLETE` marker written
    * last); returns the scaled dir path.
    */
  def ensure(spark: SparkSession, sfDir: String, factor: Int): String = {
    require(factor >= 2, s"scale factor must be >= 2, got $factor")
    val base = new java.io.File(sfDir).getName
    val root = s"${sys.props("java.io.tmpdir").stripSuffix("/")}/graft_scaleup/${base}x$factor"
    val marker = java.nio.file.Paths.get(root, "_COMPLETE")
    if (!java.nio.file.Files.exists(marker)) {
      // fail FAST on a typo'd or empty source dir — listFiles() returns
      // null for a nonexistent path, and replicating zero tables would
      // "succeed" at writing a marker into a dir that was never created
      val listing = Option(new java.io.File(sfDir).listFiles())
        .getOrElse(sys.error(s"sf dir does not exist: $sfDir"))
      val tables = listing
        .filter(_.getName.endsWith(".parquet")).map(_.getName.stripSuffix(".parquet"))
      require(tables.nonEmpty, s"no *.parquet tables under $sfDir")
      val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
      val nanosPrev = spark.conf.getOption(nanosKey)
      try tables.foreach { t =>
        // events stays in its RAW shape (ts as int64 nanos, via
        // nanosAsLong) so Tables.events applies the same micros
        // conversion to the scaled dir as to the original
        if (t == "events") spark.conf.set(nanosKey, "true")
        val src = spark.read.parquet(s"$sfDir/$t.parquet")
        val out = if (FixedDims(t)) src else replicate(src, t, factor)
        out.write.mode("overwrite").parquet(s"$root/$t.parquet")
      } finally nanosPrev match {
        // session conf is restored so ensure() does not leak legacy parquet
        // semantics into every later read of the caller's session
        case Some(v) => spark.conf.set(nanosKey, v)
        case None => spark.conf.unset(nanosKey)
      }
      java.nio.file.Files.write(marker, Array.emptyByteArray)
    }
    root
  }

  /** CLI: `runMain graft.tools.ScaleUp <sfDir> <factor>` — prints the
    * scaled dir (for pointing Verify or Profile at it).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 8
    val spark = graft.Sessions.local(graft.Sessions.toolCpus, "graft-scaleup")
    val out = ensure(spark, sfDir, factor)
    println(s"[scaleup] $out")
    spark.stop()
  }
}
