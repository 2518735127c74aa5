package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Physical-plan pins: the properties that make these queries survive a
  * 100 TB scale-up. A correctness-preserving refactor that silently loses
  * pushdown, pruning, broadcast, or top-k short-circuiting fails here,
  * not in a cluster bill.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("filters are pushed into the parquet scan") {
    val p = plan("q_filter_conjunctive")
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(500))
    assert(p.contains("EqualTo(l_returnflag,R)"), "predicate not pushed")
    // the PushedFilters list is elided in toString; the range predicate
    // shows untruncated in the scan's DataFilters
    assert(p.contains(">= 45.0)"), "range not pushed")
  }

  test("column pruning reaches the scan (projection of 4 of 16 lineitem cols)") {
    val p = plan("q_filter_conjunctive")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_returnflag"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    assert(plan("q_fk_join").contains("BroadcastHashJoin"))
    val multi = plan("q_multi_join")
    assert("BroadcastHashJoin".r.findAllIn(multi).size >= 2,
      "3-way dim chain should broadcast both dims")
  }

  test("global top-k short-circuits as TakeOrderedAndProject (no full sort)") {
    assert(plan("q_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("semi/anti joins stay semi/anti in the physical plan") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_upsert_antijoin").contains("LeftAnti"))
  }

  test("aggregations use partial (map-side) combine") {
    val p = plan("q_window_tumbling")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"), "no map-side partial aggregation")
  }

  test("scan-only text queries contain no shuffle at all") {
    for (q <- Seq("q_token_count", "q_lang_id", "q_fingerprint",
                  "q_quality_classifier")) {
      val p = plan(q)
      // a global sort for output determinism is allowed; no hash-partition
      // exchange may appear
      assert(!p.contains("hashpartitioning"), s"$q shuffles: ${p.take(300)}")
    }
  }

  test("latest-per-key aggregates partially map-side (no rank window)") {
    val p = plan("q_topk_latest")
    assert(p.contains("partial_max_by"), p.take(400))
    assert(!p.contains("row_number"), "fell back to the full-shuffle rank window")
  }

  test("native cosine expression appears in the ANN plan (not a UDF)") {
    val p = plan("q_ann_bruteforce")
    assert(p.contains("cosine_sim"), p.take(500))
    assert(!p.contains("UDF"), "ANN hot path fell back to a UDF")
  }

  test("as-of join is one shuffle + window, not a range join") {
    val p = plan("q_asof_join")
    assert(!p.contains("NestedLoop"), "as-of fell back to a nested-loop join")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      "as-of lost the running-window formulation")
    // exactly the union's key shuffle (+1 for the right side's unique-ts
    // pre-aggregation), never a per-pair join exchange pair
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 2, s"as-of join shuffles $shuffles times:\n${p.take(800)}")
  }

  test("range join is a partitionable equi-join on bin, not a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("NestedLoop"),
      "range join fell back to BroadcastNestedLoopJoin")
    assert(p.contains("Join"), p.take(400))
  }

  test("minhash signature is a narrow native projection (no explode/shuffle)") {
    val df = graft.ops.Dedup.minhashSignatureNarrow(
      graft.Tables.documents(spark, sf), "doc_id", "text")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("minhash_signature"), p.take(400))
    assert(!p.contains("Generate"), "signature exploded shingles")
    assert(!p.contains("Exchange"), s"signature shuffled:\n${p.take(400)}")
  }

  test("simhash is a narrow native projection (no explode/shuffle)") {
    val df = graft.ops.Dedup.simhashNarrow(
      graft.Tables.documents(spark, sf), "doc_id", "text")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("simhash64"), p.take(400))
    assert(!p.contains("Generate") && !p.contains("Exchange"),
      s"simhash exploded or shuffled:\n${p.take(400)}")
  }

  test("TPC-H Q1 shape: pushdown reaches the scan, aggregate combines map-side") {
    val p = plan("q_tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(500))
    assert(p.contains("partial_"), "no map-side partial aggregation")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("TPC-H Q3 shape: dims broadcast, top-10 short-circuits") {
    val p = plan("q_tpch_q3")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "customer/orders sides should broadcast against lineitem")
    assert(p.contains("TakeOrderedAndProject"), "top-10 lost its short-circuit")
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(400))
  }

  test("TPC-H Q5 shape: snowflake dims broadcast down the chain") {
    val p = plan("q_tpch_q5")
    // region->nation->supplier chain + AQE's small-side conversions: the
    // lineitem fact side must never be the build side of a shuffle join
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "snowflake dimensions should broadcast")
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(400))
  }

  test("TPC-H Q6 shape: all predicates pushed, single partial-agg scan") {
    val p = plan("q_tpch_q6")
    assert(!p.contains("Join"), "Q6 must be a pure scan+aggregate")
    assert(p.contains("HashAggregate") && p.contains("partial_sum"),
      "aggregate lost its map-side combine")
    // every predicate reaches the reader (shipdate range, discount
    // bounds, quantity) — shown untruncated in the scan's data filters
    assert(p.contains("l_discount") && p.contains("l_quantity"), p.take(600))
  }

  test("tf-idf: term-keyed aggregations combine map-side; top-k sorts per doc only") {
    val p = plan("q_tfidf")
    assert(p.contains("partial_count"), "tf/df aggregation lost map-side combine")
    assert(!p.contains("Sort [tfidf"), "no global sort expected")
  }

  test("bucket-partitioned ANN index prunes non-probed partitions at the source") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.col

    val emb = graft.Tables.embeddings(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("ann_idx").toString + "/index"
    val nPlanes = 4
    graft.ops.Similarity.writeLshIndex(emb, "embedding", path, nPlanes, dim = 64)
    // compaction preserves the bucket= layout — pruning below runs on the
    // COMPACTED extract
    graft.etl.Refresh.compact(spark, path)

    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    val probe = graft.ops.Similarity.probeLshIndex(
      spark, path, "vec_id", "embedding", query, k = 10, nPlanes, probeRadius = 1)

    val top = probe.queryExecution.executedPlan
    val inner = top match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = inner.collect { case s: FileSourceScanExec => s }.head
    assert(scan.partitionFilters.nonEmpty, "probe lost its partition filter")
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters).length
    val total = scan.relation.location.listFiles(Nil, Nil).length
    // radius-1 multi-probe on 4 planes touches at most 5 of up to 16 buckets
    assert(selected <= nPlanes + 1, s"probe scanned $selected partitions")
    assert(selected < total, s"no source-level pruning ($selected of $total)")
    // and the pruned probe returns exactly what the row-filter variant does
    val viaFilter = graft.ops.Similarity.lshTopK(
      emb, "vec_id", "embedding", query, k = 10, nPlanes, probeRadius = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIndex = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == viaFilter)
  }

  test("Z-order layout: a 2-D box query prunes to its intersecting quadtree cells at the source") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._

    val path = graft.queries.Fixtures.ensureZLayout(spark, sf)
    val box = graft.ops.Layout.boxQuery(spark, path, "n_chars", "token_count",
      100, 300, 20, 50, graft.queries.Fixtures.ZBits, graft.queries.Fixtures.ZCells)

    val inner = box.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = inner.collect { case s: FileSourceScanExec => s }.head
    assert(scan.partitionFilters.nonEmpty, "box query lost its cell partition filter")
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters).length
    val total = scan.relation.location.listFiles(Nil, Nil).length
    val cells = graft.ops.Layout.cellsForBox(100, 300, 20, 50,
      graft.queries.Fixtures.ZBits, graft.queries.Fixtures.ZCells)
    assert(selected <= cells.size,
      s"box scanned $selected partitions, box intersects only ${cells.size} cells")
    assert(selected < total, s"no source-level pruning ($selected of $total cells)")

    // and the pruned layout returns exactly what the flat corpus does
    val viaLayout = box.agg(count(lit(1)), sum("n_chars")).head()
    val viaFlat = graft.Tables.documents(spark, sf)
      .withColumn("token_count", graft.ops.TextAnalysis.tokenCount(col("text")))
      .filter(col("n_chars").between(100, 300) && col("token_count").between(20, 50))
      .agg(count(lit(1)), sum("n_chars")).head()
    assert(viaLayout == viaFlat, s"layout answer $viaLayout != flat answer $viaFlat")
  }

  test("Z-order layout survives compaction: cells keep pruning after Refresh.compact") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._

    // small-file cleanup is routine maintenance on a 100 TB layout —
    // it must not cost the pruning the layout exists for
    val path = java.nio.file.Files.createTempDirectory("zcompact").toString + "/layout"
    val rows = (0L until 400L).map(i => (i, (i * 37) % 700, (i * 53) % 120))
      .toDF("id", "x", "y")
    graft.ops.Layout.writeZClustered(rows, "x", "y", 10, 3, path)
    graft.etl.Refresh.compact(spark, path)
    val box = graft.ops.Layout.boxQuery(spark, path, "x", "y", 0, 127, 0, 127, 10, 3)
    val inner = box.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = inner.collect { case s: FileSourceScanExec => s }.head
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters).length
    val total = scan.relation.location.listFiles(Nil, Nil).length
    assert(selected == 1 && selected < total,
      s"compacted layout lost cell pruning ($selected of $total)")
    val expect = (0L until 400L)
      .filter(i => (i * 37) % 700 <= 127 && (i * 53) % 120 <= 127).toSet
    assert(box.select("id").as[Long].collect().toSet == expect)
  }

  test("fuzzy join blocks to an equi-join: no cartesian product, verify only on candidates") {
    val p = plan("q_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "fuzzy join degenerated to an all-pairs plan")
    assert(p.contains("levenshtein"),
      "edit-distance verify missing from the candidate stage")
  }

  test("IVF cell-partitioned index prunes non-probed cells at the source") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.col

    val emb = graft.Tables.embeddings(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString + "/index"
    val centroids = graft.ops.Similarity.writeIvfIndex(emb, "vec_id", "embedding", path, m = 8)

    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    val nProbe = 2
    val probe = graft.ops.Similarity.probeIvfIndex(
      spark, path, centroids, "vec_id", "embedding", query, k = 10, nProbe)

    val inner = probe.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = inner.collect { case s: FileSourceScanExec => s }.head
    assert(scan.partitionFilters.nonEmpty, "probe lost its partition filter")
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters).length
    val total = scan.relation.location.listFiles(Nil, Nil).length
    assert(selected <= nProbe && selected < total,
      s"no source-level pruning ($selected of $total)")
    // pruned probe == recompute-and-filter variant (kmeansIters matches
    // the index build default: both sides must share one cell map)
    val viaAssign = graft.ops.Similarity.ivfTopK(
      emb, "vec_id", "embedding", query, k = 10, m = 8, nProbe, kmeansIters = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIndex = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == viaAssign)
  }

  test("LSH verification: per-doc sets once, codegen intersect, no shingle shuffle") {
    // r18: verification tokenizes each candidate doc ONCE at fetch time
    // (array_distinct over the native shingle_array projection) and the
    // per-pair kernel is the codegen'd array_intersect — the fused
    // per-pair text kernel re-shingled both sides for every pair. The
    // invariant that matters is unchanged: no shingle rows are ever
    // exploded into a shuffle during verification.
    val p = plan("q_minhash_lsh_pairs")
    assert(p.contains("array_intersect"), p.take(500))
    assert(p.contains("shingle_array"), "candidate-set fetch lost the native tokenizer")
    assert(!p.contains("Generate explode(transform"),
      "verification re-exploded shingle rows")
  }

  test("TPC-H Q18 shape: HAVING aggregate drives the joins; top-100 short-circuits") {
    val p = plan("q_tpch_q18")
    // the per-order sum must partial-combine map-side and its HAVING
    // filter must apply BEFORE the orders/customer joins (qualified
    // orders are the small probe side, never the raw fact table)
    assert(p.contains("partial_sum"), "fact aggregate lost map-side combine")
    assert(p.contains("TakeOrderedAndProject"), "top-100 lost its short-circuit")
    assert(p.contains("__sq"), "qualified-order aggregate not feeding the join")
  }

  test("TPC-H Q10 shape: dims broadcast, top-20 short-circuits, date filter pushed") {
    val p = plan("q_tpch_q10")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "customer/nation should broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-20 lost its short-circuit")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      p.contains("GreaterThanOrEqual(o_orderdate"),
      "orders date filter not pushed to the scan")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      "returnflag filter not pushed to the lineitem scan")
  }

  test("funnel stages push the step filter into the scan; joins stay keyed") {
    val p = plan("q_funnel")
    assert(p.contains("EqualTo(event_type,signup)"),
      "step-type filter not pushed to the events scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "funnel planned a non-keyed join")
  }

  test("ntile sharding windows partition by the stratum (no single global sort before ntile)") {
    val df = SparkEntry.queries("q_ntile_shard")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the window sort must be (lang, n_chars, doc_id) per partition —
    // global ordering appears only in the final presentation ORDER BY
    assert(p.contains("Window"), p.take(300))
    assert(p.contains("hashpartitioning(lang"),
      s"window not partitioned by the stratum:\n${p.take(600)}")
  }

  test("sql-surface near-dup pipeline plans the same native kernels as the DataFrame one") {
    val p = plan("q_sql_neardup")
    assert(p.contains("minhash_signature"), "SQL pipeline lost the native signature kernel")
    assert(p.contains("shingle_jaccard"), "SQL pipeline lost the native verify kernel")
    assert(!p.contains("CartesianProduct"), "band join degenerated")
  }

  test("bucketed curation join: doc_id join needs no Exchange, only the rollup shuffles") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q_curation_bucketed")(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      // co-bucketed SMJ: the join keys arrive pre-hashed and pre-sorted
      // from the bucketed layout — no shuffle, no sort, on either side
      assert(p.contains("SortMergeJoin"), p.take(800))
      assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).isEmpty,
        s"doc_id join still shuffles:\n${p.take(1200)}")
      // the only exchanges left: the per-source rollup and the ORDER BY
      assert("Exchange".r.findAllIn(p).size <= 2, p.take(1200))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // ---- plan-size guards for iterative/composed operators ----------------
  // Exponential-lineage regressions (r5's clusters() doubled its plan per
  // propagation round) must fail here in seconds, not hang a driver run.

  private def optimizedNodeCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case n => n }.length

  test("composed dedup funnel keeps a bounded optimized plan (iteration leaves roll up)") {
    val df = SparkEntry.queries("q_dedup_funnel")(spark, sf)
    val n = optimizedNodeCount(df)
    assert(n <= 60,
      s"q_dedup_funnel optimized plan has $n nodes — iterative lineage is leaking into the result")
  }

  test("clusters output plan size is independent of propagation round count") {
    import spark.implicits._
    // diameter-3 graph (2 rounds) vs diameter-16 chain (more rounds with
    // pointer doubling) — identical output plan size, or lineage is
    // accumulating per round again
    val small = graft.ops.Dedup.clusters(
      Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"))
    val chain = graft.ops.Dedup.clusters(
      (0L until 16L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
    assert(optimizedNodeCount(small) == optimizedNodeCount(chain),
      s"plan grows with rounds: ${optimizedNodeCount(small)} vs ${optimizedNodeCount(chain)}")
  }

  test("k-means-refined IVF probe plan does not grow with refinement iterations") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select(org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def probe(iters: Int) = graft.ops.Similarity.ivfTopK(
      emb, "vec_id", "embedding", q, k = 5, m = 4, nProbe = 2, kmeansIters = iters)
    // centroids are a driver-side array: more Lloyd iterations refine the
    // literals, never the plan
    assert(optimizedNodeCount(probe(0)) == optimizedNodeCount(probe(3)))
  }

  // ---- round-6 additions -------------------------------------------------

  test("DSIR scoring is ONE narrow scan — no join, no explode, no shuffle (r11)") {
    // the 512-bucket log-ratio table is collected and baked into an
    // array literal, so the scoring side is a single projection over the
    // eval corpus; the only distribution step left is the top-50
    val p = plan("q_dsir_weights")
    assert(!p.contains("Join"),
      "scoring joined something — the fixed-size LM must be an array-literal lookup")
    assert(!p.contains("Generate") && !p.contains("Exchange"),
      "scoring exploded or shuffled the corpus — must be one narrow projection")
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 must short-circuit as TakeOrderedAndProject, not a global sort")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "scoring must read the corpus exactly once")
  }

  test("cross-source dup matrix broadcasts the pair side into both label joins") {
    val p = plan("q_crossdup_matrix")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "pair side (O(dups)) must broadcast against the corpus label lookups")
  }

  test("weighted sampling short-circuits as TakeOrderedAndProject (no global sort)") {
    assert(plan("q_weighted_sample").contains("TakeOrderedAndProject"))
  }

  test("sweep-line concurrency never nested-loops or cartesians") {
    val p = plan("q_concurrency")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "interval logic must stay a union + window sweep, not an interval self-join")
  }

  test("data card reads the corpus exactly once (one scan, one Expand for 3 distincts)") {
    val p = plan("q_data_card")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "data card must compute every metric from a single corpus scan")
    assert("Expand".r.findAllIn(p).size >= 1, "multi-distinct should plan as Expand")
  }

  test("curation pipeline: canonical corpus is a leaf feeding all branches (no re-collapse per branch)") {
    val p = plan("q_curation_pipeline")
    // the quality scan + LSH collapse run ONCE (eager leaf); the output
    // plan may scan raw documents only for the benchmark shingle side
    assert("documents.parquet".r.findAllIn(p).size <= 2,
      "a downstream branch re-runs the quality/collapse stages")
    assert(p.contains("LeftAnti"), "decontamination lost its anti-join")
    assert(!p.contains("CartesianProduct"), "pipeline degenerated to a cartesian")
  }

  test("NOT IN plans as a null-aware broadcast anti join, not a nested loop") {
    val p = plan("q_null_aware_anti")
    assert(p.contains("LeftAnti"), "NOT IN lost its anti-join plan")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "single-column NOT IN degenerated to a nested loop — O(n*m) at scale")
  }

  test("NOT IN three-valued logic: any NULL in the subquery empties the result") {
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("x").createOrReplaceTempView("naaj_probe")
    Seq(Some(1L), None).toDF("y").createOrReplaceTempView("naaj_build")
    // x NOT IN (1, NULL) is never TRUE for any x (x=1 → FALSE, else UNKNOWN)
    assert(spark.sql(
      "SELECT x FROM naaj_probe WHERE x NOT IN (SELECT y FROM naaj_build)").count() == 0L)
    // the NOT EXISTS rewrite is NOT equivalent — it keeps 2 and 3
    assert(spark.sql(
      """SELECT x FROM naaj_probe p WHERE NOT EXISTS (
        |SELECT 1 FROM naaj_build b WHERE b.y = p.x)""".stripMargin).count() == 2L)
  }

  // ---- TPC-H completion (Q4/Q8/Q12/Q13/Q15/Q17/Q19/Q21/Q22) --------------

  test("TPC-H Q4: the EXISTS stays a left-semi join with the date range pushed") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"), "correlated EXISTS lost its semi-join plan")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "orders date range not pushed to the scan")
  }

  test("TPC-H Q8: region filter is a broadcast semi-join; part dim broadcasts") {
    val p = plan("q_tpch_q8")
    assert(p.contains("LeftSemi"), "ASIA-customer filter lost its semi-join form")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "part/nation dims should broadcast against the fact")
    assert(p.contains("EqualTo(p_type,ECONOMY)"),
      "part-type filter not pushed to the part scan")
  }

  test("TPC-H Q13: zero-order customers survive (left outer), both aggs partial-combine") {
    val p = plan("q_tpch_q13")
    assert(p.contains("LeftOuter"), "distribution lost its left join")
    assert(p.contains("partial_count"), "count aggregates lost map-side combine")
  }

  test("TPC-H Q15/Q17 decorrelate to ONE fact scan each (no max/avg rejoin rescan)") {
    for (q <- Seq("q_tpch_q15", "q_tpch_q17")) {
      val p = plan(q)
      assert("lineitem.parquet".r.findAllIn(p).size == 1,
        s"$q re-scans the fact table for its correlated aggregate")
    }
  }

  test("TPC-H Q19: derived single-side envelopes push into the fact scan pre-join") {
    val p = plan("q_tpch_q19")
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      p.contains("LessThanOrEqual(l_quantity,30.0)"),
      "quantity envelope not pushed to the lineitem scan")
    assert(p.contains("In(p_brand"), "brand set not pushed to the part scan")
    assert(p.contains("BroadcastHashJoin"), "part side should broadcast")
  }

  test("TPC-H Q21: double self-correlation plans as semi + anti joins, no window/agg over the fact") {
    val p = plan("q_tpch_q21")
    assert(p.contains("LeftSemi"), "EXISTS lost its semi-join plan")
    assert(p.contains("LeftAnti"), "NOT EXISTS lost its anti-join plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "self-correlation degenerated to a non-keyed join")
  }

  test("TPC-H Q22: dormant filter is an anti join on the date-pruned orders scan") {
    val p = plan("q_tpch_q22")
    assert(p.contains("LeftAnti"), "NOT EXISTS lost its anti-join plan")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "orders date filter not pushed to the scan")
  }

  // ---- TPC-H partsupp closure (Q2/Q9/Q11/Q16/Q20 over Tables.partsupp) ----

  test("TPC-H Q2: correlated MIN decorrelates to a partial-agg + one keyed join; top-100 short-circuits") {
    val p = plan("q_tpch_q2")
    assert(p.contains("partial_min"), "per-part min lost its map-side combine")
    assert(p.contains("TakeOrderedAndProject"), "LIMIT lost its short-circuit")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "region/nation/supplier dims should broadcast")
    assert(p.contains("EqualTo(r_name,EUROPE)"),
      "region filter not pushed to the scan")
  }

  test("TPC-H Q9: name filter pushes to the part scan; profit sums combine map-side; fact scanned once") {
    val p = plan("q_tpch_q9")
    assert(p.contains("StringContains(p_name,widget)"),
      "part name LIKE not pushed to the part scan")
    assert(p.contains("partial_sum"), "profit aggregate lost map-side combine")
    assert("lineitem.parquet".r.findAllIn(p).size == 1,
      "Q9 re-scans the fact table")
  }

  test("TPC-H Q11: nation filter is a broadcast semi-join; value sums combine map-side") {
    val p = plan("q_tpch_q11")
    assert(p.contains("LeftSemi"), "supplier-nation filter lost its semi-join form")
    assert(p.contains("partial_sum"), "inventory-value sum lost map-side combine")
    assert(p.contains("EqualTo(n_name,NATION_3)"),
      "nation filter not pushed to the scan")
  }

  test("TPC-H Q16: flagged suppliers excluded by broadcast anti-join; part attrs pushed") {
    val p = plan("q_tpch_q16")
    assert(p.contains("LeftAnti"), "NOT IN exclusion lost its anti-join plan")
    assert(p.contains("In(p_size"), "size set not pushed to the part scan")
    assert(!p.contains("SortMergeJoin"),
      "both dims fit broadcast; nothing here should sort-merge")
  }

  test("TPC-H Q20: membership via semi-joins; ship-date range pushes into the lineitem scan") {
    val p = plan("q_tpch_q20")
    assert("LeftSemi".r.findAllIn(p).size >= 2,
      "IN-subquery membership lost its semi-join plans")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "ship-date range not pushed to the lineitem scan")
    assert(!p.contains("CartesianProduct"),
      "correlated availqty comparison degenerated to a non-keyed join")
  }

  test("IVF batch join: query side broadcasts on the cell key; corpus scanned once, no sort-merge") {
    val p = plan("q_ivf_join")
    assert(p.contains("BroadcastHashJoin"), "cell equi-join must broadcast the query side")
    assert(!p.contains("SortMergeJoin"),
      "cell join degenerated to a corpus shuffle")
    // exactly the two pushed-down scans (queries + corpus) — cell
    // assignment is computed inline, never via a second corpus pass
    assert("Scan parquet".r.findAllIn(p).size == 2, "corpus re-scanned")
    assert(p.contains("WindowGroupLimit"),
      "per-query top-k must prune before the rank window")
  }

  test("audio near-dup: decode is partition-local — no exchange before the pair stage") {
    val p = plan("q_audio_neardup")
    // everything up to the pair join is mapPartitions over the doc scan;
    // the only exchanges allowed are the pair stage's own
    val decodePrefix = p.substring(0, p.indexOf("Join").max(0))
    assert(!decodePrefix.contains("Exchange hashpartitioning"),
      "decode stage introduced a shuffle")
  }

  test("PQ ADC: probes broadcast against the coded corpus; top-k prunes pre-shuffle") {
    val p = plan("q_pq_adc")
    // the 5-probe side is the broadcast build of the cross join — the
    // corpus (codes) side streams, raw vectors never shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), "probe side must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "ADC scan degenerated to a shuffled join")
    // Spark's rank-filter rewrite: per-probe top-k drops candidates
    // BEFORE the window exchange, so the shuffle carries ~k rows/probe
    assert(p.contains("WindowGroupLimit"),
      "per-probe top-k must prune before the rank window")
  }

  test("PQ re-rank: ADC shortlist runs on codes; raw vectors enter ONLY above the shortlist gate") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sf)
    val df = graft.ops.Similarity.ivfPqRerankJoin(
      emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
      "vec_id", "embedding", 10, m = 8, nProbe = 2, pqM = 4, pqKs = 8,
      refine = 8)
    val p = df.queryExecution.executedPlan.toString
    // both rank stages (shortlist + final) prune before their window
    // exchange — the shuffle carries ~refine·k rows per query, not the
    // whole probed-cell candidate set
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p.take(1500))
    // top-down: the exact-cosine re-rank join sits ABOVE the ADC
    // shortlist window — raw corpus vectors meet a rank-gated frame,
    // never the full candidate set (the first cosine_sim in the tree is
    // the re-rank's; the centroid-probe cosines live further down on
    // the query side)
    val rerank = p.indexOf("cosine_sim")
    val shortlist = p.indexOf("pq_adc")
    assert(rerank >= 0 && shortlist >= 0, p.take(1500))
    assert(rerank < shortlist,
      "exact cosine computed below the ADC shortlist — raw vectors reached the candidate stage")
    // the refine·k rank gate separates the two stages
    val gate = p.indexOf("<= 80", rerank)
    assert(gate >= 0 && gate < shortlist,
      "shortlist rank gate missing between re-rank and ADC stages")
    // the re-rank is an id equi-join (bounded point reads at scale)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "re-rank degenerated to a non-keyed join")
  }

  test("BPE encode: merge table broadcasts; token counts combine map-side") {
    val p = plan("q_bpe_encode")
    // the 1-row merge table joins by broadcast — the vocabulary never
    // shuffles to meet it
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "merge table must broadcast")
    // final token counts: partial aggregation before the exchange
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("CMS gram prefilter: all d estimate probes are broadcast joins — no gram shuffle before the filter") {
    // the prefilter's whole point is dropping grams BEFORE any exchange;
    // if a sketch side ever exceeds the broadcast threshold Spark would
    // silently fall back to a shuffled join and the pre-shuffle claim
    // (and the positive high-minCount regime) would be void
    val p = plan("q_ngram_spans_cms")
    // every estimate probe joins on a __bkN bucket key; all must build
    // broadcast-side (the exact-count stage AFTER the filter still
    // shuffles by design — that one is out of scope here)
    val probeJoins = p.linesIterator.filter(_.contains("__bk")).toSeq
    val broadcastProbes = probeJoins.count(_.contains("BroadcastHashJoin"))
    assert(broadcastProbes >= 4,
      s"expected >=4 broadcast estimate probes, got $broadcastProbes:\n${probeJoins.mkString("\n")}")
    assert(!probeJoins.exists(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")),
      s"a sketch probe degenerated to a shuffled join:\n${probeJoins.mkString("\n")}")
  }

  test("linear probe: ONE row crosses the final stage — sufficient stats, no second data pass") {
    val df = SparkEntry.queries("q_linear_probe")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // a single global aggregate feeds the Cramer arithmetic: no join of
    // the fit back onto the data, no window over the corpus
    assert(!p.contains("Window "), "probe fit must not window over the corpus")
    val joins = "SortMergeJoin|BroadcastHashJoin".r.findAllIn(p).size
    // the only join is the feature build (lexical stats × n_chars)
    assert(joins <= 1, s"unexpected joins in the fit:\n${p.take(1000)}")
  }

  test("skew audit: one map-side-combined shuffle, top-20 short-circuits") {
    val df = SparkEntry.queries("q_skew_audit")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), "top-20 lost its short-circuit")
    assert(p.contains("partial_count"), "key counting lost map-side combine")
    // the counts subtree appears in BOTH branches (top-20 and the
    // broadcast totals row), but the key shuffle must run ONCE — the
    // totals branch rides ReuseExchange over the same exchange, so the
    // fact is scanned and shuffled a single time
    assert(p.contains("ReusedExchange") || p.linesIterator.count(
        _.contains("Exchange hashpartitioning")) <= 1,
      s"totals branch re-shuffled the key counts:\n${p.take(1500)}")
  }

  test("semantic decontamination: eval broadcasts, train is never shuffled pre-join") {
    val p = plan("q_semantic_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the bounded eval suite must broadcast under the cosine-threshold condition")
    assert(p.contains("cosine_sim"), "native codegen cosine lost from the join condition")
    // the only hash exchange is the O(hits) vec_id partial agg AFTER the
    // join — the train scan itself must reach the join unshuffled
    val joinIdx = p.indexOf("BroadcastNestedLoopJoin")
    val preJoin = p.substring(joinIdx)
    assert(!preJoin.contains("Exchange hashpartitioning"),
      "train side shuffled before the broadcast join")
  }

  test("entity resolution: survivorship reads the closure's O(1) RDD leaf, no cartesian") {
    // the candidate cascade's plan shape (equi-join on the blocking key,
    // codegen levenshtein verify, no nested loop) is pinned by the
    // fuzzy-join test above; by survivorship time the closure labels are
    // an RDD LEAF (Dedup.clusters materializes per-round), so the final
    // plan must be leaf-scan + one keyed agg + one equi-join — not a
    // re-derivation of the whole linkage pipeline
    val p = plan("q_entity_resolution")
    assert(!p.contains("CartesianProduct"),
      "fuzzy self-join degenerated to a cartesian")
    assert(p.contains("Scan ExistingRDD"),
      "closure labels lost their materialized leaf (plan re-derives the pipeline)")
    assert(!p.contains("levenshtein"),
      "survivorship re-ran the verify stage instead of reading the leaf")
  }

  test("bm25: df and corpus stats broadcast; top-k short-circuits; no corpus-wide join") {
    val p = plan("q_bm25")
    // the |Q|-sized df table and the 1-row stats aggregate must never
    // shuffle-join against the hit stream
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      s"df/stats not broadcast:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"), "top-20 planned as a full sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("rrf fusion: rank windows run over BOUNDED candidate lists, never the corpus") {
    // each leg is TakeOrdered top-100 FIRST; the single-partition rank
    // window is fine over 100 rows and fatal over a corpus — the pin is
    // that every Window sits ABOVE a TakeOrderedAndProject/GlobalLimit
    // barrier, i.e. no Sort+Window pair consumes an Exchange directly
    val p = plan("q_rrf_fusion")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      "candidate legs must be distributed top-k")
    val windows = "Window ".r.findAllIn(p).size
    assert(windows >= 2, s"expected the two rank windows, got $windows")
    // a corpus-wide global window would plan Exchange SinglePartition
    // below a Sort+Window with no limit barrier in between
    val lines = p.linesIterator.toSeq
    val winIdx = lines.zipWithIndex.filter(_._1.contains("Window ")).map(_._2)
    winIdx.foreach { i =>
      val below = lines.drop(i + 1).take(8).mkString("\n")
      assert(below.contains("TakeOrderedAndProject") || below.contains("GlobalLimit"),
        s"rank window at line $i is not fed by a bounded top-k:\n$below")
    }
  }

  test("band stats: native signature pass, two map-side-combined keyed aggs, no window") {
    // the LSH index-health audit must stay cheaper than the join it
    // predicts: one corpus scan through the native signature expression
    // (no shingle explode), the band explode, then count-combine per
    // (band_id, band_key) and per band_id — nothing else
    val p = plan("q_minhash_band_stats")
    assert(p.contains("minhash_signature"), p.take(400))
    assert(!p.contains("UDF"), "signature fell back to a UDF")
    assert(p.contains("partial_count"), "bucket sizing lost map-side combine")
    assert(!p.contains("row_number"), "stats must not rank anything")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 2, s"band stats shuffles $shuffles times:\n${p.take(600)}")
  }

  test("tokenizer fertility: one scan, one keyed shuffle, partial aggregation") {
    val p = plan("q_tokenizer_fertility")
    assert(!p.contains("UDF"), "token/lang expressions fell back to a UDF")
    assert(p.contains("partial_"), "fertility aggregation lost map-side combine")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1, s"fertility shuffles $shuffles times:\n${p.take(600)}")
    // exactly one scan of documents: every stat rides the same pass
    assert("Scan parquet".r.findAllIn(p).size <= 1,
      "fertility re-scanned the corpus")
  }

  test("pii density: one corpus scan, staged regexps codegen'd, one keyed shuffle") {
    // the pre-redaction audit must cost one pass: the 5-class staged
    // count/replace chain is a per-row projection (whole-stage codegen,
    // no UDF), and the per-source stats combine map-side
    val p = plan("q_pii_density")
    assert(!p.contains("UDF"), "regexp staging fell back to a UDF")
    assert(p.contains("partial_"), "density aggregation lost map-side combine")
    assert("Scan parquet".r.findAllIn(p).size <= 1,
      "pii density re-scanned the corpus")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1, s"pii density shuffles $shuffles times:\n${p.take(600)}")
  }

  test("threshold sweep: verified pairs computed ONCE, both consumers read the cache") {
    // the sweep's whole point is pricing three thresholds for the cost
    // of one candidate+verify pass: nearDupPairs' result is persisted
    // (eagerlyWith), so the final plan's pair-count and doc-count legs
    // must BOTH read InMemoryTableScan — and no parquet scan may appear
    // above it (the banding/verify work happened exactly once, inside
    // the materialization; re-deriving pairs per threshold would
    // resurface the corpus scans here)
    // leaf inspection, not string surgery: an InMemoryRelation RENDERS
    // its defining plan (with its FileScans) inside toString, but those
    // scans already ran once at materialization — in the executed tree
    // the cache is a LEAF (InMemoryTableScanExec), so collectLeaves
    // sees only what this plan would actually execute
    val df = SparkEntry.queries("q_dedup_threshold_sweep")(spark, sf)
    // sparkPlan, not executedPlan: AQE wraps the whole tree into one
    // opaque AdaptiveSparkPlan leaf
    val leaves = df.queryExecution.sparkPlan.collectLeaves().map(_.nodeName)
    assert(leaves.count(_.contains("InMemoryTableScan")) >= 2,
      s"both sweep consumers must read the cached verified pairs: $leaves")
    assert(!leaves.exists(_.contains("FileSourceScan")),
      s"sweep re-scans the corpus above the verified-pair cache: $leaves")
    assert(!plan("q_dedup_threshold_sweep").contains("row_number"),
      "the sweep must not rank anything")
  }

  test("zipf gate: both fits run over LIMIT-bounded frames, two corpus scans total") {
    // the rrf-fusion precedent applied to the gate's two halves: each
    // rank window must sit above a top-500 barrier (a corpus-wide
    // global window is the scale-killer this pin guards), and the
    // generated zipfian half costs one documents scan like the
    // template half — never a second pass per half
    val p = plan("q_zipf_fit_gate")
    val lines = p.linesIterator.toSeq
    val winIdx = lines.zipWithIndex.filter(_._1.contains("Window ")).map(_._2)
    assert(winIdx.size >= 2, s"expected both halves' rank windows, got ${winIdx.size}")
    winIdx.foreach { i =>
      val below = lines.drop(i + 1).take(8).mkString("\n")
      assert(below.contains("TakeOrderedAndProject") || below.contains("GlobalLimit"),
        s"rank window at line $i is not fed by a bounded top-k:\n$below")
    }
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      "each gate half costs one corpus scan")
    assert(!p.contains("UDF"), "md5 inverse-CDF sampling fell back to a UDF")
  }

  test("setsim index probe: broadcast prefixes, stored rows never pre-shuffled") {
    // the index form's scale contract mirrors the direct R-S join's:
    // probe prefixes broadcast; the stored token rows are scanned and
    // filtered, never cartesian'd. The SERVED result is deliberately a
    // detached materialization (its plan is just the checkpointed rows —
    // Dedup.eagerlyDetachedWith, the stale-cached-probe fix), so the pin
    // reads the candidate-generation plan the serving form executes
    // inside that checkpoint.
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(50)
    val idx = java.nio.file.Files.createTempDirectory("plan_ss_idx").toString + "/idx"
    graft.ops.Dedup.writeSetSimIndex(docs, "doc_id", "text", idx)
    val p = graft.ops.Dedup.setSimAgainstIndexCandidates(
        docs.select((col("doc_id") + 1000L).as("doc_id"), col("text")),
        "doc_id", "text", idx, 7, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "probe prefix side lost its broadcast hint")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay an equi-join on the shared token")
    // and the served form IS the detached materialization: no join
    // operators may remain in the returned plan (they already ran)
    // (r18 verdict: this parsed as `(A && B) || C` with C true for any
    // plan — the pin could never fail; parenthesized so a join operator
    // in the served plan now fails it)
    val served = plan("q_setsim_index")
    assert(!served.contains("BroadcastHashJoin") &&
      (served.contains("ExistingRDD") || served.contains("Scan")),
      s"served plan should read materialized rows: ${served.take(300)}")
  }

  test("exact set-sim self-join: three hash exchanges and the final sort, no join, no cache") {
    // token → id → prefix element, each a hash exchange feeding a
    // partition-local pass, then the orderBy; the prefix self-join chain
    // it replaced planned broadcast fetch joins over persisted frames
    // (r19 capture: 525 lines naming an Exchange)
    val p = plan("q_setsim_join")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"), p.take(1500))
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 4, s"$exchanges exchanges:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3, p)
    // the pairs are ordered through one single-partition exchange: a
    // range partitioning's sampler would run the block kernel twice
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q_ngram_jaccard on the set-sim block kernel: three hash exchanges, no join, no cache") {
    // the exact all-pairs Jaccard is the self-join kernel at 9/10 — the
    // md5-ordered prefix self-join and its persisted frames are gone
    val p = plan("q_ngram_jaccard")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"), p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3, p)
  }

  test("setsim decontamination: the probe prefix side broadcasts into the candidate join") {
    // the R-S join's scale contract: the eval-suite side is small, so
    // its prefix table must BROADCAST — the corpus side is scanned, not
    // shuffled into a symmetric hash join, for candidate generation
    val p = plan("q_setsim_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "probe prefix side lost its broadcast hint")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay an equi-join on the shared token")
  }
}
