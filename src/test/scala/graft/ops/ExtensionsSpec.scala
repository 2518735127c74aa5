package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Specs for the training-data-pipeline extension operators:
  * dedup (exact / MinHash+LSH / SimHash), similarity search, text
  * analysis, multimodal plumbing.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  // ---- TextAnalysis -----------------------------------------------------

  test("tokenCount / subwordCount") {
    val df = Seq((1L, "hello world foo"), (2L, "abc123def x")).toDF("id", "text")
    val out = df.select($"id",
        TextAnalysis.tokenCount($"text").as("t"),
        TextAnalysis.subwordCount($"text").as("s"))
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L, 3L), (2L, 2L, 4L))) // abc|123|def|x
  }

  test("langId votes marker words with fixed tie-break") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "el la los las es y que"),
      (4L, "xyzzy plugh")) // no markers anywhere → tie → en
      .toDF("id", "text")
    val out = df.select($"id", TextAnalysis.langId($"text").as("l"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "en"), (2L, "de"), (3L, "es"), (4L, "en")))
  }

  test("removeBoilerplate strips cross-doc segments, keeps rare ones in order, empties survive") {
    val docs = Seq(
      (1L, "unique one. COMMON FOOTER. rare tail"),
      (2L, "another thing. COMMON FOOTER"),
      (3L, "third doc. COMMON FOOTER"),
      (4L, "COMMON FOOTER")) // all-boilerplate doc must survive as ""
      .toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplate(docs, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, "unique one. rare tail"), // order preserved around the removal
      (2L, "another thing"),
      (3L, "third doc"),
      (4L, "")))
  }

  test("canonicalUrl: fragment, host case, default ports, utm params, trailing slash") {
    val cases = Seq(
      "HTTPS://Example.COM:443/Data/Doc1/?utm_source=feed#frag" ->
        "https://example.com/Data/Doc1", // path case preserved, host lowered
      "http://example.com:80/a" -> "http://example.com/a",
      "https://example.com:8443/a" -> "https://example.com:8443/a", // non-default port kept
      "http://example.com:443/a" -> "http://example.com:443/a", // 443 NOT default for http
      "https://example.com:80/a" -> "https://example.com:80/a", // 80 NOT default for https
      "https://example.com/a?utm_a=1&b=2&utm_c=3" -> "https://example.com/a?b=2",
      "https://example.com/a?utm_a=1" -> "https://example.com/a",
      "https://example.com/a?b=2&utm_a=1" -> "https://example.com/a?b=2",
      "https://example.com/" -> "https://example.com",
      "https://example.com/a/b/" -> "https://example.com/a/b",
      // slash strip is PATH-only: a '/' ending a query value is data,
      // and 'path/?q' collapses with 'path?q'
      "https://example.com/a?next=/" -> "https://example.com/a?next=/",
      "https://example.com/data/doc/?b=1" -> "https://example.com/data/doc?b=1",
      // '&' is a legal PATH character: a literal '&utm_' in the path is
      // a distinct resource, NOT a tracking param to strip
      "https://example.com/a&utm_x/b" -> "https://example.com/a&utm_x/b",
      "https://example.com/a&utm_x/b?utm_c=1" -> "https://example.com/a&utm_x/b")
    val out = cases.map(_._1).zipWithIndex.map(_.swap).toDF("i", "u")
      .select($"i", TextAnalysis.canonicalUrl($"u").as("c"))
      .orderBy("i").as[(Int, String)].collect().map(_._2)
    assert(out.toSeq == cases.map(_._2))
  }

  test("scrubPii stops a URL redaction at whitespace, not just spaces") {
    // [^ ]+ would run past the newline and delete "hello" with the URL
    val out = Seq((1L, "see https://a.example/x\nhello world"),
        (2L, "mail me@example.org\tnow"))
      .toDF("id", "text")
      .select($"id", TextAnalysis.scrubPii($"text").as("t"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, "see <URL>\nhello world"),
      (2L, "mail <EMAIL>\tnow")), out.toString)
  }

  test("scrubPiiV2: class overlaps resolve by the documented order") {
    val cases = Seq(
      // email containing digits: one <EMAIL>, digits never shredded
      (1L, "user123@x.com has digits", "<EMAIL> has digits"),
      // URL containing a phone: URL redaction owns the whole token
      (2L, "http://x.io/555-123-4567 path", "<URL> path"),
      (3L, "call +1 (212) 555-0198 now", "call <PHONE> now"),
      // dotted quad is <IP>, never half-matched as phone groups
      (4L, "ip 10.0.3.21 here", "ip <IP> here"),
      (5L, "acct 123456789 done", "acct <ID> done"),
      // separator-less phone falls to the long-digit class
      (6L, "+12125550198 no seps", "+<ID> no seps"),
      // dates/times/versions/decimals stay: the separators can't fill
      // the phone's fixed 3/4 group slots, \b guards the rest
      (7L, "date 2024-08-15 12:34 v1.2.3.4 pi 3.14159",
        "date 2024-08-15 12:34 v1.2.3.4 pi 3.14159"),
      // equal-width numeric triplets are NOT phones (the r14 review
      // case the exact 3/4 widths exist for)
      (8L, "scores 100 200 300 done", "scores 100 200 300 done"),
      (9L, "born 1914-1918 1939 died", "born 1914-1918 1939 died"),
      // a match must never start MID-digit-run and shred the token —
      // the leading \b makes this fall through whole
      (10L, "12345-678-9012 partial", "12345-678-9012 partial"))
    val out = cases.map(c => (c._1, c._2)).toDF("id", "text")
      .select($"id", TextAnalysis.scrubPiiV2($"text").as("t"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == cases.map(c => (c._1, c._3)), out.toString)
  }

  test("fingerprintMd5 is whitespace/case insensitive; rolling is order sensitive") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"),   // same md5 fingerprint
      (3L, "world hello"))                          // same bag, different order
      .toDF("id", "text")
    val fp = df.select($"id", TextAnalysis.fingerprintMd5($"text").as("m"),
        TextAnalysis.fingerprintRolling(lower($"text")).as("r"))
      .orderBy("id").as[(Long, String, Long)].collect()
    assert(fp(0)._2 == fp(1)._2)
    assert(fp(1)._3 != fp(2)._3) // rolling hash distinguishes permutations
  }

  test("quality features are well-formed ratios") {
    val rows = Tables.documents(spark, sf).limit(50)
      .select(TextAnalysis.qualityFeatures($"text"): _*).collect()
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0) // punct ratio
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0) // stopword ratio
    }
  }

  // ---- Dedup ------------------------------------------------------------

  test("exact dedup keeps lowest id per normalized content") {
    val df = Seq((1L, "a b c"), (5L, "A  b C"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 3L))
  }

  test("shingles are distinct n-grams; short docs drop out") {
    val df = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text").as[(Long, String)].collect().toSet
    assert(sh == Set((1L, "a b c"), (1L, "b c d")))
  }

  test("lshGeometryFor: picker == tabulated decision surface; the deployed 3x2 default is the derived pick at 0.8") {
    val ts = Seq(0.5, 0.6, 0.7, 0.8, 0.9, 0.95)
    val chosen = Dedup.lshGeometryTable(spark, ts).filter($"chosen")
      .select($"threshold", $"k", $"band_rows").as[(Double, Int, Int)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(chosen.size == ts.size, s"one pick per threshold: $chosen")
    ts.foreach { t =>
      assert(chosen(t) == Dedup.lshGeometryFor(t, 0.9),
        s"table pick ${chosen(t)} != picker ${Dedup.lshGeometryFor(t, 0.9)} at $t")
    }
    // nearDupPairs' shipped default (k=6 in 3 bands x 2 rows) is exactly
    // the pick at its default threshold 0.8 — derived, no longer a
    // hardcoded coincidence (X147/X159 price this same geometry)
    assert(Dedup.lshGeometryFor(0.8) == ((6, 2)))
    // steeper (more selective) curves at higher thresholds
    assert(Dedup.lshGeometryFor(0.95)._2 > Dedup.lshGeometryFor(0.7)._2)
    // the pick honors the recall floor
    val (k, r) = Dedup.lshGeometryFor(0.9)
    assert(Dedup.lshCaptureProb(0.9, r, k / r) >= 0.9)
    // an unreachable bar refuses loudly instead of shipping silent loss
    intercept[IllegalArgumentException] { Dedup.lshGeometryFor(0.1, 0.999999) }
  }

  test("drift-family regime: correlated band misses fragment a 3-band chain; 4 bands hold it") {
    // scaled-down GIANTPROOF corpus: doc i = words t{i}..t{i+39}, so
    // every adjacent pair sits at trigram jaccard 37/39 ~ 0.949 — ABOVE
    // the 0.8 verification bar. Any missed adjacent pair is therefore a
    // BANDING miss, and on this sliding-window shape those misses are
    // correlated (the min-shingle leaving the window flips every band
    // it owns for (i,i+1), (i,i+2), (i-1,i+1) at once — bridges don't
    // rescue a break). Measured rates: ~7.5e-4 misses/edge at 3 bands
    // vs ~1.25e-4 at 4 (deterministic md5 → exact and stable), so the
    // chain needs a few thousand edges to exhibit the regime
    val n = 4000
    val docs = spark.range(0, n).select($"id".as("doc_id"),
      array_join(transform(sequence($"id", $"id" + 39),
        j => concat(lit("t"), j)), " ").as("text"))
    def adjacentCaptured(k: Int): Long =
      Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8,
          k = k, bandRows = 2)
        .filter($"id_b" - $"id_a" === 1).count()
    val c3 = adjacentCaptured(6) // the 3x2 default
    val c4 = adjacentCaptured(8) // the documented drift-regime geometry
    info(s"adjacent edges captured of ${n - 1}: 3 bands $c3, 4 bands $c4")
    assert(c3 < n - 1,
      s"the 3-band correlated-miss regime should fragment this chain ($c3 of ${n - 1})")
    assert(c4 > c3,
      s"the 4th band should recover correlated misses: $c4 <= $c3")
  }

  test("minhash LSH finds the planted near-dups that exact jaccard finds") {
    val docs = Tables.documents(spark, sf)
    val lsh = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.setSimJoinExact(docs, "doc_id", "text", 9, 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    // LSH candidates ⊆ verified exact pairs, and recall is high at j≥0.9
    assert(lsh.subsetOf(exact))
    assert(lsh.size >= exact.size * 9 / 10)
  }

  test("prefix-filtered exact jaccard == naive all-pairs join") {
    val docs = Tables.documents(spark, sf)
    val prefix = Dedup.setSimJoinExact(docs, "doc_id", "text", 9, 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // naive candidate generation: full shingle self-join (no prefix cut)
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val naiveCands = sh.select($"id".as("id_a"), $"shingle")
      .join(sh.select($"id".as("id_b"), $"shingle"), Seq("shingle"))
      .filter($"id_a" < $"id_b").select("id_a", "id_b").distinct()
    val naive = Dedup.jaccardForPairs(naiveCands, sh)
      .filter($"jaccard" >= 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(naive.nonEmpty && prefix == naive)
  }

  test("simhash banded pairs == all-pairs within radius") {
    val sig = Dedup.simhash(Tables.documents(spark, sf), "doc_id", "text")
    val banded = Dedup.simhashPairsBanded(sig, maxHamming = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val allp = Dedup.simhashPairs(sig, maxHamming = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(allp.nonEmpty && banded == allp)
  }

  // ---- Similarity -------------------------------------------------------

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("id", "a", "b")
    val out = df.select($"id", round(Similarity.cosine($"a", $"b"), 9).as("c"))
      .orderBy("id").as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 1.0), (2L, 0.0)))
  }

  test("native cosine expression is bit-identical to the HOF formulation") {
    val emb = Tables.embeddings(spark, sf).limit(200)
    val a = emb.select($"vec_id".as("id_a"), $"embedding".as("va"))
    val b = emb.select($"vec_id".as("id_b"), $"embedding".as("vb"))
    val pairs = a.crossJoin(b).filter($"id_a" < $"id_b").limit(5000)
    val diff = pairs.select(
        Similarity.cosine($"va", $"vb").as("native"),
        Similarity.cosineHof($"va", $"vb").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff == 0L)
  }

  test("LSH ANN recall vs brute force on real embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val query = emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0).toArray
    val base = emb.filter($"vec_id" =!= 0)
    val exact = Similarity.bruteForceTopK(base, "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = Similarity.lshTopK(base, "vec_id", "embedding", query, 10,
        nPlanes = 4, probeRadius = 2)
      .select("vec_id").as[Long].collect().toSet
    // isotropic synthetic embeddings are sign-LSH's worst case: with 4
    // planes probed at radius 2 (11/16 buckets) expect >= half the true
    // top-10; real clustered corpora do far better at tighter probes
    assert((exact intersect approx).size >= 5)
  }

  test("IVF probe recall vs brute force; cell assignment partitions the corpus") {
    val emb = Tables.embeddings(spark, sf)
    val query = emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0).toArray
    val base = emb.filter($"vec_id" =!= 0)
    val exact = Similarity.bruteForceTopK(base, "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(base, "vec_id", "embedding", query, 10,
        m = 16, nProbe = 8)
      .select("vec_id").as[Long].collect().toSet
    assert((exact intersect ivf).size >= 5)
    // every vector lands in exactly one cell; cells are non-degenerate
    val cells = Similarity.ivfAssign(base, "vec_id", "embedding",
        Similarity.ivfCentroids(base, "vec_id", "embedding", 16))
      .groupBy("__cell").count()
    assert(cells.count() > 8)
    assert(cells.agg(sum("count")).as[Long].head() == base.count())
  }

  test("PQ recall ladder: re-rank dominates pure ADC per query; refined cells raise the mean") {
    def recalls(q: String): Map[Long, Double] =
      graft.SparkEntry.queries(q)(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val adc = recalls("q_pq_recall_audit")
    val rr = recalls("q_pq_rerank")
    val rrf = recalls("q_pq_rerank_refined")
    assert(adc.keySet == rr.keySet && rr.keySet == rrf.keySet)
    // structural dominance: the exact top-10 of the ADC-top-80 shortlist
    // contains every true hit the ADC top-10 contained (ten shortlist
    // members beating x exactly would beat x globally) — per query, not
    // just in aggregate
    adc.foreach { case (q, r) =>
      assert(rr(q) >= r, s"query $q: rerank recall ${rr(q)} < pure-ADC $r")
    }
    assert(rr.values.sum > adc.values.sum,
      "re-rank bought nothing on the audit fixture")
    // cell selection is the loss the re-rank cannot recover — the
    // Lloyd-refined coarse quantizer must raise the audit's mean
    assert(rrf.values.sum >= rr.values.sum,
      s"refined-cell rerank ${rrf.values.sum} < id-rank rerank ${rr.values.sum}")
    // the complete stack (+residual codes) tops the ladder and sits
    // under the exact-in-cell ceiling PER QUERY (structural: every
    // full-stack hit is a true-top-10 member inside a probed cell, and
    // the exact-in-cell top-10 contains all of those). On the sf0.01
    // audit fixture the two are equal per query — the oracle gate pins
    // those exact values; this spec's fixture (sf0.001) keeps the
    // ordering claims only.
    val full = recalls("q_pq_full_stack")
    val exactCeiling = recalls("q_ivf_recall_refined")
    assert(full.values.sum >= rrf.values.sum,
      s"full stack ${full.values.sum} < refined rerank ${rrf.values.sum}")
    full.foreach { case (q, r) =>
      assert(r <= exactCeiling(q),
        s"query $q: full stack $r above the exact-in-cell ceiling ${exactCeiling(q)}")
    }
  }

  test("ivfPqRerankCurve: climbs to the rerank tier, refine-bounded (never forced to 1.0), leaks no RDD") {
    val emb = Tables.embeddings(spark, sf)
    val probes = emb.filter($"vec_id" < 5)
    val corpus = emb.filter($"vec_id" >= 5)
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = Similarity.ivfPqRerankCurve(probes, corpus, "vec_id",
        "embedding", k = 10, m = 8, pqM = 4, pqKs = 8, refine = 8,
        kmeansIters = 2, residual = true)
      .select($"n_probe", $"n_queries".as[Long], $"mean_recall_at_10".as[Double])
      .orderBy("n_probe").collect()
    assert(rows.length == 8 && rows.forall(_.getLong(1) == 5L))
    val recalls = rows.map(_.getDouble(2))
    // reading a second cell must help; past that the refine budget binds
    // and the curve may flatten or dip — no saturation-at-1.0 anchor
    assert(recalls(1) > recalls(0),
      s"second probe bought nothing: ${recalls.mkString(",")}")
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    // budget m reads every cell: the tail equals the full-stack audit's
    // mean (same stack, all cells probed ⊆ shortlist-bounded)
    spark.catalog.clearCache()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"ivfPqRerankCurve must unpersist its ground-truth leaf: leaked RDDs $leaked")
  }

  test("ivfPqRefineCurve: monotone in the shortlist budget, leaks no RDD") {
    val emb = Tables.embeddings(spark, sf)
    val probes = emb.filter($"vec_id" < 5)
    val corpus = emb.filter($"vec_id" >= 5)
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = Similarity.ivfPqRefineCurve(probes, corpus, "vec_id",
        "embedding", k = 10, refines = Seq(1, 2, 4, 8, 12), m = 8,
        nProbe = 2, pqM = 4, pqKs = 8, kmeansIters = 2, residual = true)
      .select($"refine", $"n_queries".as[Long], $"mean_recall_at_10".as[Double])
      .orderBy("refine").collect()
    assert(rows.length == 5 && rows.forall(_.getLong(1) == 5L))
    val recalls = rows.map(_.getDouble(2))
    // monotone is STRUCTURAL on this dial: a larger shortlist contains
    // the smaller one, and any true hit the exact re-rank would drop
    // must be displaced by other true hits (unlike the probe dial,
    // where extra cells crowd a FIXED shortlist)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"refine curve must be monotone: ${recalls.mkString(",")}")
    assert(recalls.last > recalls.head,
      s"a 12x shortlist bought nothing: ${recalls.mkString(",")}")
    spark.catalog.clearCache()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"ivfPqRefineCurve must unpersist its ground-truth leaf: leaked RDDs $leaked")
  }

  test("ivfProbeCurve: monotone recall, saturates at 1.0, leaks no RDD") {
    val emb = Tables.embeddings(spark, sf)
    val probes = emb.filter($"vec_id" < 5)
    val corpus = emb.filter($"vec_id" >= 5)
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = Similarity.ivfProbeCurve(probes, corpus, "vec_id", "embedding",
        k = 10, m = 8)
      .select($"n_probe", $"n_queries".as[Long], $"mean_recall_at_10".as[Double])
      .collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 8),
      "one row per probe budget, in order")
    assert(rows.map(_.getLong(1)).distinct.length == 1,
      "every budget audits the same probe sample")
    val recalls = rows.map(_.getDouble(2))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must be monotone in the probe budget: ${recalls.mkString(",")}")
    assert(recalls.last == 1.0,
      "reading every cell IS the exact join — the curve's sanity anchor")
    // the exact leg's leaf is released after the eager materialization
    // (the r14 audit-leak fix): clearCache drops the persisted result
    // frame (CacheManager-tracked), but a leaked raw-RDD leaf would
    // survive it — exactly the accretion the fix closes. Compare ID
    // SETS, not sizes: the async ContextCleaner may concurrently drop a
    // PRE-EXISTING entry (measured flake), but only a NEW surviving id
    // can be our leak
    spark.catalog.clearCache()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"ivfProbeCurve must unpersist its ground-truth leaf: leaked RDDs $leaked")
  }

  test("k-means refinement improves IVF probe recall at fixed nProbe") {
    // deterministic CLUSTERED corpus (what real embeddings look like —
    // k-means has nothing to find on the isotropic synthetic table): 8
    // directional clusters, ids grouped by cluster, so the id-rank seed
    // centroids all sample cluster 0 — the degenerate case refinement
    // must recover from
    val dim = 16
    val nClusters = 8
    val perCluster = 40
    def center(c: Int): Array[Double] =
      Array.tabulate(dim)(i => math.sin(c * 31.0 + i * 7.0))
    def point(c: Int, j: Int): Array[Double] = {
      val ctr = center(c)
      Array.tabulate(dim)(i => ctr(i) + 0.15 * math.sin((c * perCluster + j) * 13.0 + i * 5.0))
    }
    val rows = for (c <- 0 until nClusters; j <- 0 until perCluster)
      yield ((c * perCluster + j).toLong, point(c, j))
    val base = rows.toDF("vec_id", "embedding")
    val queries = (0 until nClusters).map(c => point(c, perCluster + 1))

    val idRank = Similarity.ivfCentroids(base, "vec_id", "embedding", 16)
    val refined = Similarity.ivfCentroidsKMeans(base, "vec_id", "embedding", 16, iters = 10)
    // deterministic: same sample seed + fixed iterations => identical centroids
    val refined2 = Similarity.ivfCentroidsKMeans(base, "vec_id", "embedding", 16, iters = 10)
    assert(refined.zip(refined2).forall { case ((i1, c1), (i2, c2)) =>
      i1 == i2 && c1.toSeq == c2.toSeq })

    def recallSum(cents: Array[(Long, Array[Double])]): Int = queries.map { query =>
      val exact = Similarity.bruteForceTopK(base, "vec_id", "embedding", query, 10)
        .select("vec_id").as[Long].collect().toSet
      // probe at a TIGHT nProbe=2, where centroid quality dominates recall
      val cells = cents.map { case (id, c) =>
        val dot = c.zip(query).map { case (a, b) => a * b }.sum
        val na = math.sqrt(c.map(x => x * x).sum)
        val nb = math.sqrt(query.map(x => x * x).sum)
        id -> dot / (na * nb)
      }.sortBy { case (id, s) => (-s, id) }.take(2).map(_._1).toSeq
      val q = org.apache.spark.sql.functions.array(query.map(lit): _*)
      val probed = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
        .filter($"__cell".isin(cells: _*))
        .select($"vec_id", Similarity.cosine($"embedding", q).as("sim"))
        .orderBy($"sim".desc, $"vec_id").limit(10)
        .select("vec_id").as[Long].collect().toSet
      (exact intersect probed).size
    }.sum
    val baseRecall = recallSum(idRank)
    val kmRecall = recallSum(refined)
    info(s"recall@10 over $nClusters cluster queries, nProbe=2: " +
      s"id-rank=$baseRecall kmeans=$kmRecall of ${10 * nClusters}")
    assert(kmRecall > baseRecall,
      s"k-means refinement did not improve recall: $kmRecall <= $baseRecall")
  }

  test("index build paths default to k-means-refined centroids") {
    val emb = graft.Tables.embeddings(spark, sf)
    val idRank = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    val refined = Similarity.ivfCentroidsKMeans(emb, "vec_id", "embedding", 8, 5)
    val ivfPath = java.nio.file.Files.createTempDirectory("ivf_def").toString + "/idx"
    val built = Similarity.writeIvfIndex(emb, "vec_id", "embedding", ivfPath, m = 8)
    assert(built.map(_._1).toSeq == refined.map(_._1).toSeq)
    assert(built.flatMap(_._2).toSeq == refined.flatMap(_._2).toSeq,
      "writeIvfIndex default must build the k-means-refined centroids")
    assert(built.flatMap(_._2).toSeq != idRank.flatMap(_._2).toSeq,
      "refinement moved no centroid on real embeddings — default not wired?")
    // the IVF-PQ build writes the SAME refined centroids into its sidecar
    val pqPath = java.nio.file.Files.createTempDirectory("pq_def").toString + "/idx"
    val embD = emb.select($"vec_id", $"embedding".cast("array<double>").as("v"))
    Similarity.writePqIndex(embD, "vec_id", "v", pqPath,
      pqM = 4, pqKs = 8, ivfCells = 8)
    val (_, _, _, _, sidecarCents) = Similarity.readPqSidecar(spark, pqPath)
    assert(sidecarCents.map(_._1).toSeq == refined.map(_._1).toSeq)
    assert(sidecarCents.flatMap(_._2).toSeq == refined.flatMap(_._2).toSeq,
      "PQ sidecar must carry the refined centroids the build assigned with")
  }

  test("SQ8 IVF index: smaller cells serve the same neighbors; upserts encode to match") {
    import java.nio.file.Files
    val emb = graft.Tables.embeddings(spark, sf)
    val rawPath = Files.createTempDirectory("ivf_raw").toString + "/idx"
    val sqPath = Files.createTempDirectory("ivf_sq8").toString + "/idx"
    val cents = Similarity.writeIvfIndex(emb, "vec_id", "embedding", rawPath, m = 8)
    val cents2 = Similarity.writeIvfIndex(emb, "vec_id", "embedding", sqPath,
      m = 8, quantized = true)
    assert(cents.flatMap(_._2).toSeq == cents2.flatMap(_._2).toSeq,
      "quantized storage must not change the centroid build")
    val query = emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0).toArray
    def probeIds(path: String): Set[Long] =
      Similarity.probeIvfIndex(spark, path, cents, "vec_id", "embedding",
        query, k = 10, nProbe = 2).select("vec_id").as[Long].collect().toSet
    assert(probeIds(sqPath) == probeIds(rawPath),
      "SQ8 cells must serve the same top-k as the float cells")
    // the stored form really is codes, and meaningfully smaller on disk
    assert(Similarity.isSq8(
      spark.read.parquet(sqPath).schema("embedding").dataType))
    def parquetBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(p))
    }
    val (rawB, sqB) = (parquetBytes(rawPath), parquetBytes(sqPath))
    assert(sqB < rawB * 0.6, s"SQ8 index not smaller: $sqB vs $rawB")
    // an upsert into the SQ8 index encodes its delta to the index form:
    // a new vector AT the query point must surface first from the codes
    val delta = emb.filter($"vec_id" === 0)
      .withColumn("vec_id", lit(100000L))
    graft.streaming.Streams.annIndexUpsert(spark, delta, sqPath, cents)
    assert(Similarity.isSq8(
      spark.read.parquet(sqPath).schema("embedding").dataType),
      "upsert broke the index's quantized schema")
    // the original vec 0 carries the identical vector; the id tie-break
    // ranks it first — the upserted twin must sit directly beside it
    val after = Similarity.probeIvfIndex(spark, sqPath, cents, "vec_id",
      "embedding", query, k = 2, nProbe = 2).select("vec_id").as[Long].collect()
    assert(after.toSeq == Seq(0L, 100000L),
      s"upserted exact-match twin must rank beside the original, got ${after.toSeq}")
  }

  test("batch ANN join: LSH multi-probe recall vs the exact join") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 5)
    val corpus = emb.filter($"vec_id" >= 5)
    val exact = Similarity.annJoinExact(queries, corpus, "vec_id", "embedding", k = 10)
      .select("query_id", "match_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lsh = Similarity.annJoin(queries, corpus, "vec_id", "embedding", k = 10,
        nPlanes = 4, probeRadius = 2)
      .select("query_id", "match_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // isotropic embeddings are sign-LSH's worst case (see the single-query
    // recall test): radius-2 on 4 planes probes 11/16 buckets — expect at
    // least half the true top-10 per query on average
    val recall = exact.keys.toSeq.map(q =>
      (exact(q) intersect lsh.getOrElse(q, Set.empty)).size).sum
    assert(recall >= 25, s"avg recall too low: $recall/50")
    // every query returns at most k rows, none beyond the probed buckets
    assert(lsh.values.forall(_.size <= 10))
  }

  test("LSH- and IVF-kNN classification accuracy within 5 points of exact kNN") {
    // The driver testdata's labels are chance-level w.r.t. the vectors
    // (exact-kNN accuracy ~= 1/10 at every SF), so an accuracy bound
    // there validates nothing. Synthesize a label-clustered corpus:
    // 8 seeded unit centers in 32-d, 64 jittered vectors per center,
    // label = center index. Exact kNN is near-perfect on this geometry,
    // so the <=5-pt bound genuinely constrains the LSH probe's quality.
    val rnd = new scala.util.Random(42)
    val nCenters = 8
    val perCenter = 64
    val dim = 32
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(nCenters)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = for {
      c <- 0 until nCenters
      i <- 0 until perCenter
    } yield {
      val v = centers(c).map(x => x + 0.25 * rnd.nextGaussian())
      (c.toLong * perCenter + i, unit(v), c)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
      .repartition(4).cache()
    val q = emb.filter($"vec_id" % 4 === 0) // 128 queries, 16 per class
    def accuracy(neigh: (org.apache.spark.sql.DataFrame,
                         org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame) =
      Similarity.knnClassify(q, emb, "vec_id", "embedding", "label", neigh)
        .agg(sum("n_correct").cast("double") / sum("n")).as[Double].head()
    val exact = accuracy((a, b) =>
      Similarity.annJoinExact(a, b, "vec_id", "embedding", k = 6))
    val lsh = accuracy((a, b) =>
      Similarity.annJoin(a, b, "vec_id", "embedding", k = 6,
        nPlanes = 8, probeRadius = 2))
    // the scale path must not silently trade away model quality: the
    // multi-probe LSH neighbor stage keeps classification accuracy
    // within 5 points of the exact stage on the clustered fixture
    assert(exact > 0.8, s"fixture sanity: exact kNN accuracy $exact")
    assert(math.abs(exact - lsh) <= 0.05, s"exact=$exact lsh=$lsh")
    // third neighbor stage: the IVF probe through the SAME harness —
    // 16 coarse cells, 4 probed, k-means-refined centroids
    val ivf = accuracy((a, b) =>
      Similarity.ivfJoin(a, b, "vec_id", "embedding", k = 6,
        m = 16, nProbe = 4, kmeansIters = 3))
    assert(math.abs(exact - ivf) <= 0.05, s"exact=$exact ivf=$ivf")
    // fourth neighbor stage: IVF cells ranked by PQ-ADC codes — the
    // memory-resident variant must not trade away model quality either
    // (8 subspaces × 16 codewords on the 32-d fixture)
    val ivfpq = accuracy((a, b) =>
      Similarity.ivfPqJoin(a, b, "vec_id", "embedding", k = 6,
        m = 16, nProbe = 4, pqM = 8, pqKs = 16))
    assert(math.abs(exact - ivfpq) <= 0.05, s"exact=$exact ivfpq=$ivfpq")
    // fifth neighbor stage: the full PQ serving stack (refined cells +
    // residual codes + ADC shortlist + exact re-rank) — the tier a
    // deployment actually ships rides the identical vote/accuracy plan
    val rerank = accuracy((a, b) =>
      Similarity.ivfPqRerankJoin(a, b, "vec_id", "embedding", k = 6,
        m = 16, nProbe = 4, pqM = 8, pqKs = 16, refine = 4,
        kmeansIters = 3, residual = true))
    assert(math.abs(exact - rerank) <= 0.05, s"exact=$exact rerank=$rerank")
    emb.unpersist()
  }

  test("LSH hard-negative mining recovers most exact hard negatives on the clustered fixture") {
    // CONE geometry, not the kNN spec's well-separated clusters: centers
    // are perturbations of one base direction, so cross-label vectors
    // sit at high cosine — the regime where hard negatives exist at all
    // (with orthogonal clusters the "hard" negatives are far, no bucket
    // shares them, and an LSH recall bound would only measure cluster
    // separation). Sign-LSH collision probability rises with cosine, so
    // genuinely hard negatives are exactly the ones the probe recovers.
    val rnd = new scala.util.Random(7)
    val nCenters = 8
    val perCenter = 64
    val dim = 32
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val baseDir = Array.fill(dim)(rnd.nextGaussian())
    val centers = Array.fill(nCenters)(
      baseDir.map(b => b + 0.35 * rnd.nextGaussian()))
    val rows = for {
      c <- 0 until nCenters
      i <- 0 until perCenter
    } yield {
      val v = centers(c).map(x => x + 0.25 * rnd.nextGaussian())
      (c.toLong * perCenter + i, unit(v), c)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
      .repartition(4).cache()
    val q = emb.filter($"vec_id" % 8 === 0) // 64 queries, 8 per class
    val k = 5
    def pairs(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "match_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (qid, m) => qid -> m.map(_._2).toSet }
    val exact = pairs(Similarity.hardNegatives(
      q, emb, "vec_id", "embedding", "label", k))
    val lsh = Similarity.hardNegativesLsh(
      q, emb, "vec_id", "embedding", "label", k, nPlanes = 8, probeRadius = 2)
    // every mined pair is a TRUE negative (labels differ) — the filter
    // ran before ranking, not after
    val labels = rows.map(r => r._1 -> r._3).toMap
    val lshPairs = pairs(lsh)
    lshPairs.foreach { case (qid, ms) =>
      ms.foreach(m => assert(labels(qid) != labels(m),
        s"query $qid got same-label 'negative' $m"))
      assert(ms.size <= k)
    }
    // and the probe recovers most of the exact miner's picks
    val hit = exact.map { case (qid, ms) =>
      (ms intersect lshPairs.getOrElse(qid, Set.empty)).size }.sum
    val total = exact.values.map(_.size).sum
    assert(hit * 10 >= total * 6, s"LSH hard-negative recall too low: $hit/$total")
    emb.unpersist()
  }

  test("audio RMS envelopes flow through the LSH-blocked near-dup stage") {
    // the q_audio_neardup query pins the exact allPairs path against the
    // oracle; this pins the SCALE path — the same envelope vectors through
    // the sign-LSH-blocked nearDupPairs — against allPairs: every blocked
    // pair must be a true pair (subset), and recall must be non-trivial
    // (envelope groups are near-parallel, so bucket collision is likely)
    import graft.Tables
    val wavs = Tables.documents(spark, sf).select($"doc_id")
      .filter($"doc_id" < 120).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = 200 + (id % 5).toInt * 50
          val g = (id % 4).toInt
          val pcm = Array.tabulate[Short](n) { i =>
            if ((i * 16 / n) % 4 == g) 0
            else (((id * 31 + i * 17) % 401 - 200) * 128).toShort
          }
          (id, Multimodal.synthWav(8000, pcm))
        }
      }.toDF("doc_id", "payload")
    val env = Multimodal.decodeFeatures(wavs)
      .select($"doc_id", $"features").cache()
    val exact = Similarity.allPairs(env, "doc_id", "features", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val blocked = Similarity.nearDupPairs(env, "doc_id", "features",
        threshold = 0.8, nPlanes = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(exact), "blocked pairs must verify exactly")
    assert(blocked.size >= exact.size / 2,
      s"LSH recall too low on clustered envelopes: ${blocked.size}/${exact.size}")
    env.unpersist()
  }

  test("LSH bucket pruning actually reduces scanned rows") {
    val emb = Tables.embeddings(spark, sf)
    val planes = Similarity.hyperplanes(8, 64)
    val counts = emb.withColumn("b", Similarity.lshBucket($"embedding", planes))
      .groupBy("b").count().agg(max("count")).as[Long].head()
    // 500 vectors into 256 buckets: the largest bucket must be far below n
    assert(counts < 50)
  }

  // ---- Multimodal -------------------------------------------------------

  test("payload + meta struct round trip") {
    val df = Multimodal.withPayload(Seq((1L, "abc")).toDF("doc_id", "text"))
    val r = df.select($"meta.byte_len", $"meta.sha256", $"meta.modality", $"payload").head()
    assert(r.getLong(0) == 3L)
    assert(r.getString(1) == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(r.getString(2) == "text")
    assert(new String(r.getAs[Array[Byte]](3), "UTF-8") == "abc")
  }

  test("decodeFeatures is a partition-local pass with stable schema") {
    val df = Multimodal.decodeFeatures(
      Multimodal.withPayload(Seq((1L, "hello world"), (2L, "x")).toDF("doc_id", "text")))
    assert(df.columns.takeRight(3).toSeq == Seq("width", "height", "features"))
    val feats = df.orderBy("doc_id").select("features").as[Array[Float]].collect()
    assert(feats.forall(_.length == Multimodal.FeatureDim))
    assert(feats.forall(_.forall(v => v >= 0.0f && v < 1.0f)))
    // determinism: same payload → same features
    val again = Multimodal.decodeFeatures(
      Multimodal.withPayload(Seq((1L, "hello world")).toDF("doc_id", "text")))
      .select("features").as[Array[Float]].head()
    assert(again.toSeq == feats(0).toSeq)
  }

  test("decodeFeatures really decodes a PNG via JDK ImageIO (dims + grid luma)") {
    // fixture: 64x48 PNG, left half black / right half white — real
    // decode must recover the true pixel dims and a 4x4 luma grid with
    // 0.0 cells on the left and 1.0 cells on the right
    val img = new java.awt.image.BufferedImage(
      64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 48; x <- 0 until 64)
      img.setRGB(x, y, if (x < 32) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val row = Multimodal.decodeFeatures(
        Seq((1L, bos.toByteArray)).toDF("doc_id", "payload")).head()
    assert(row.getAs[Int]("width") == 64 && row.getAs[Int]("height") == 48)
    val feats = row.getAs[scala.collection.Seq[Float]]("features")
    (0 until Multimodal.FeatureDim).foreach { cell =>
      val expected = if (cell % 4 < 2) 0.0f else 1.0f
      assert(math.abs(feats(cell) - expected) < 1e-6, s"cell $cell: ${feats(cell)}")
    }
    // non-image payloads fall back to the deterministic stub
    val stub = Multimodal.decodeFeatures(
      Multimodal.withPayload(Seq((1L, "not an image")).toDF("doc_id", "text"))).head()
    assert(stub.getAs[Int]("width") == "not an image".length % 640)
  }

  test("decodeAudioSamples really decodes a generated WAV via javax.sound (exact stats)") {
    // 200-frame mono ramp: PCM value of frame i is (i - 100) * 128
    val pcm = Array.tabulate[Short](200)(i => ((i - 100) * 128).toShort)
    val wav = Multimodal.synthWav(8000, pcm)
    val a = Multimodal.decodeAudioSamples(wav).get
    assert(a.sampleRate == 8000 && a.channels == 1 && a.frames == 200L)
    assert(a.samples.length == 200)
    assert(a.samples(0) == (-100 * 128 / 32768.0).toFloat)
    assert(a.samples(199) == (99 * 128 / 32768.0).toFloat)
    val st = Multimodal.audioStats(wav).get
    assert(st.getInt(0) == 8000 && st.getInt(1) == 1 && st.getLong(2) == 200L)
    assert(st.getDouble(3) == 200.0 / 8000) // duration_s
    val sumSq = pcm.map(s => s.toLong * s).sum
    assert(st.getDouble(4) == math.sqrt(sumSq.toDouble / 200 / (32768.0 * 32768.0)))
    assert(st.getDouble(5) == 12800 / 32768.0) // peak = |(-100)*128|
    // silence |s| < 0.01 ⇔ |i-100| ≤ 2 ⇔ 5 of 200 frames
    assert(st.getDouble(6) == 5.0 / 200)
  }

  test("stereo mixes to mono; sample budget stride-caps long clips") {
    // constant L=1000 / R=3000 stereo: every mono sample is exactly 2000
    val inter = Array.tabulate[Short](400)(i => if (i % 2 == 0) 1000 else 3000)
    val stereo = Multimodal.decodeAudioSamples(
      Multimodal.synthWav(8000, inter, channels = 2)).get
    assert(stereo.channels == 2 && stereo.frames == 200L)
    assert(stereo.samples.forall(_ == (2000 / 32768.0).toFloat))
    // 4096-frame clip, budget 100: stride ceil(4096/100)=41
    val long = Array.tabulate[Short](4096)(i => (i % 256).toShort)
    val capped = Multimodal.decodeAudioSamples(
      Multimodal.synthWav(8000, long), budget = 100).get
    assert(capped.frames == 4096L)
    assert(capped.samples.length == 100)
    assert(capped.samples(1) == (41 / 32768.0).toFloat) // frame 41, not 1
    // non-audio bytes: None, callers fall back to the stub
    assert(Multimodal.decodeAudioSamples("not audio".getBytes).isEmpty)
  }

  test("unknown-length audio re-strides geometrically: samples spread, not head-biased") {
    // AU container with dataSize = -1 (unknown): the one JDK-decodable
    // format whose frame length is genuinely absent — the decoder must
    // take the re-stride path, not the fixed-stride one
    def synthAuUnknownLength(rate: Int, pcm: Array[Short]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(24 + pcm.length * 2)
      bb.putInt(0x2E736E64) // ".snd"
      bb.putInt(24)         // data offset
      bb.putInt(-1)         // data size UNKNOWN — the point of the fixture
      bb.putInt(3)          // encoding 3: 16-bit linear PCM (big-endian)
      bb.putInt(rate)
      bb.putInt(1)          // mono
      pcm.foreach(bb.putShort)
      bb.array()
    }
    val pcm = Array.tabulate[Short](4096)(i => (i % 256).toShort)
    val au = synthAuUnknownLength(8000, pcm)
    val probe = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(au))
    assert(probe.getFrameLength == -1L,
      s"fixture must be frame-length-less, got ${probe.getFrameLength}")
    val a = Multimodal.decodeAudioSamples(au, budget = 100).get
    // true length still counted to EOF, budget still honored
    assert(a.frames == 4096L && a.sampleRate == 8000)
    assert(a.samples.length <= 100, s"budget blown: ${a.samples.length}")
    // geometric re-stride: stride doubles 1→2→…→64 (the first power of
    // two with 4096/s ≤ 100), so the survivors are EXACTLY frames
    // 0, 64, 128, …, 4032 — spread over the whole clip. A head-biased
    // decoder would have kept frames 0..99 and stopped.
    assert(a.samples.length == 64, s"expected 64 survivors, got ${a.samples.length}")
    (0 until 64).foreach { k =>
      val want = (((k * 64) % 256) / 32768.0).toFloat
      assert(a.samples(k) == want, s"survivor $k: ${a.samples(k)} != $want")
    }
    // the tail of the clip is represented: the last survivor is frame
    // 4032, deep in the final 2% of the stream
    assert(a.samples(63) == ((4032 % 256) / 32768.0).toFloat)
  }

  test("decodeFeatures routes WAV payloads through the real audio path") {
    // first half silent, second half at 0.5 amplitude: envelope bins
    // 0-7 must be 0, bins 8-15 exactly 0.5; int slots = (rate, channels)
    val pcm = Array.fill[Short](100)(0) ++ Array.fill[Short](100)(16384)
    val row = Multimodal.decodeFeatures(
      Seq((1L, Multimodal.synthWav(8000, pcm))).toDF("doc_id", "payload")).head()
    assert(row.getAs[Int]("width") == 8000 && row.getAs[Int]("height") == 1)
    val feats = row.getAs[scala.collection.Seq[Float]]("features")
    assert(feats.take(8).forall(_ == 0.0f))
    assert(feats.drop(8).forall(_ == 0.5f))
    // withAudioStats: undecodable payloads yield a NULL struct
    val mixed = Multimodal.withAudioStats(Seq(
      (1L, Multimodal.synthWav(8000, pcm)),
      (2L, "plain text".getBytes)).toDF("doc_id", "payload"))
    val rows = mixed.orderBy("doc_id").select("audio_stats").collect()
    assert(rows(0).getStruct(0) != null && rows(1).isNullAt(0))
  }

  test("resizePayloads shrinks payloads in place, schema preserved") {
    val src = Multimodal.withPayload(
      Seq((1L, "a" * 100), (2L, "b")).toDF("doc_id", "text"))
    val out = Multimodal.resizePayloads(src, targetBytes = 10)
    assert(out.schema == src.schema)
    val sizes = out.orderBy("doc_id").select(octet_length($"payload"))
      .as[Int].collect().toSeq
    assert(sizes.head <= 10 && sizes.head > 0)
    assert(sizes(1) == 1)  // already under target: unchanged
    // deterministic
    val again = Multimodal.resizePayloads(src, targetBytes = 10)
      .orderBy("doc_id").select($"payload").as[Array[Byte]].collect()
    assert(again.head.toSeq ==
      out.orderBy("doc_id").select($"payload").as[Array[Byte]].collect().head.toSeq)
  }

  test("resizeImages really rescales a PNG via JDK AWT (aspect kept, stub fallback)") {
    // fixture: 100x80 solid-gray PNG; maxDim=32 must yield a real 32x26
    // PNG (0.32 scale, aspect preserved) whose pixels survive the
    // bilinear pass (solid input => solid output)
    val img = new java.awt.image.BufferedImage(
      100, 80, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 80; x <- 0 until 100) img.setRGB(x, y, 0x808080)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val out = Multimodal.resizeImages(
      Seq((1L, bos.toByteArray)).toDF("doc_id", "payload"), maxDim = 32)
    val resized = out.head().getAs[Array[Byte]]("payload")
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
    assert(back.getWidth == 32 && back.getHeight == 26)
    assert((back.getRGB(16, 13) & 0xFFFFFF) == 0x808080)
    // already-small images pass through byte-identical
    val small = Multimodal.resizeImages(
      Seq((1L, bos.toByteArray)).toDF("doc_id", "payload"), maxDim = 128)
    assert(small.head().getAs[Array[Byte]]("payload").toSeq == bos.toByteArray.toSeq)
    // non-image payloads fall back to the byte-stride stub (budget maxDim^2)
    val stub = Multimodal.resizeImages(
      Multimodal.withPayload(Seq((1L, "x" * 2000)).toDF("doc_id", "text")), maxDim = 4)
    assert(stub.head().getAs[Array[Byte]]("payload").length <= 16)
  }

  test("resize flattens transparency onto white, not black") {
    // fully-transparent 100x80 ARGB PNG: the resized RGB raster must
    // read white (a transparent logo must not become a solid-black
    // image with near-zero luma features)
    val img = new java.awt.image.BufferedImage(
      100, 80, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val resized = Multimodal.resizeImages(
        Seq((1L, bos.toByteArray)).toDF("doc_id", "payload"), maxDim = 32)
      .head().getAs[Array[Byte]]("payload")
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
    assert((back.getRGB(16, 13) & 0xFFFFFF) == 0xFFFFFF,
      f"transparent pixel flattened to 0x${back.getRGB(16, 13) & 0xFFFFFF}%06X")
  }

  test("sampleFrames emits n deterministic offsets per payload") {
    val df = Multimodal.sampleFrames(
      Multimodal.withPayload(Seq((1L, "0123456789")).toDF("doc_id", "text")), n = 4)
    val out = df.select("frame_no", "frame_offset").as[(Int, Long)].collect().toSeq
    assert(out == Seq((0, 0L), (1, 2L), (2, 5L), (3, 7L)))
  }

  test("decoded multimodal features feed ANN directly (decode → top-k handoff)") {
    val docs = graft.Tables.documents(spark, sf).limit(50)
    val feats = Multimodal.decodeFeatures(Multimodal.withPayload(docs))
    // the decode output is a fixed-size array<float> — exactly the ANN
    // vector contract; probe with doc 0's own features, expect itself #1
    val q = feats.orderBy("doc_id")
      .select(org.apache.spark.sql.functions.col("features").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val top = Similarity.bruteForceTopK(feats, "doc_id", "features", q, k = 3)
      .collect()
    assert(top.length == 3)
    assert(top.head.getLong(0) == feats.orderBy("doc_id").select("doc_id").head().getLong(0))
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("repeatedNgramCoverage: interval union via islands — overlap merges, gap splits, adjacency seams") {
    val common = (1 to 10).map(i => s"w$i").mkString(" ")     // 10 shared tokens
    val run8 = (1 to 8).map(i => s"c$i").mkString(" ")        // exactly one gram
    val docs = Seq(
      (1L, common),                                  // flagged starts 1,2,3 → one island, 10 covered
      (2L, s"u1 u2 $common v1"),                     // same passage shifted → 10 of 13
      (3L, (1 to 12).map(i => s"z$i").mkString(" ")), // unique → no row
      (4L, s"$common sep $common"),                  // two islands (gap 9 ≥ 8) → 20 of 21
      (5L, s"$run8 $run8")                           // starts 1,9: adjacent seam → 16 of 16
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedNgramCoverage(docs, "doc_id", "text",
        n = 8, minCount = 2)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    // every doc reports — the clean doc 3 at covered 0
    assert(got == Seq((1L, 10L, 10L), (2L, 13L, 10L), (3L, 12L, 0L),
      (4L, 21L, 20L), (5L, 16L, 16L)), s"got $got")
    // the removal counterpart: spans dropped, survivors keep order,
    // untouched docs byte-identical, all-duplicate docs survive empty
    val cleaned = Dedup.removeRepeatedNgramSpans(docs, "doc_id", "text",
        n = 8, minCount = 2)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(cleaned == Seq(
      (1L, ""), (2L, "u1 u2 v1"),
      (3L, (1 to 12).map(i => s"z$i").mkString(" ")),
      (4L, "sep"), (5L, "")), s"cleaned $cleaned")
  }

  test("hashed-gram scrub produces byte-identical cleaned text") {
    // the removal pipeline rides the same flagged-islands core — the
    // 8-byte-key variant must rebuild every cleaned doc identically
    val docs = graft.Tables.documents(spark, sf)
    val exact = Dedup.removeRepeatedNgramSpans(docs, "doc_id", "text")
      .orderBy("id").as[(Long, String)].collect().toSeq
    val hashed = Dedup.removeRepeatedNgramSpans(docs, "doc_id", "text",
        hashGrams = true)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(exact == hashed)
    assert(exact.nonEmpty)
  }

  test("hashed-gram coverage equals exact-string coverage on real data") {
    // the 100 TB shuffle-width variant must not change a single answer
    // where no md5-prefix collision occurs (~2^-60 per pair)
    val docs = graft.Tables.documents(spark, sf)
    val exact = Dedup.repeatedNgramCoverage(docs, "doc_id", "text")
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    val hashed = Dedup.repeatedNgramCoverage(docs, "doc_id", "text",
        hashGrams = true)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(exact == hashed)
    assert(exact.exists(_._3 > 0), "fixture sanity: some coverage exists")
  }

  test("fuzzy join edit distance counts codepoints, not bytes") {
    // cross-engine sweep finding (r10): DuckDB's levenshtein counts
    // BYTES ("café"→"cafe" = 2), Spark's counts CODEPOINTS (= 1). The
    // library semantic is codepoints — a one-accent edit is one edit —
    // pinned here because the DuckDB oracle can only cover the ASCII
    // domain where the definitions coincide.
    val a = Seq((1L, "café au lait"), (2L, "resume")).toDF("id", "s")
      .select(col("id").as("id_a"), col("s").as("s_a"))
    val b = Seq((10L, "cafe au lait"), (20L, "résumé")).toDF("id", "s")
      .select(col("id").as("id_b"), col("s").as("s_b"))
    val got = graft.ops.Linkage.fuzzyJoin(a, b, "s_a", "s_b",
        maxDist = 2, prefixLen = 1)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)]
      .collect().toSet
    // café↔cafe: 1 codepoint edit (2 bytes would break maxDist=1 logic
    // downstream); resume↔résumé: 2 codepoint edits (4 bytes)
    assert(got == Set((1L, 10L, 1), (2L, 20L, 2)), s"got $got")
  }

  test("length-banded fuzzy join blocking returns exactly the prefix-only rows") {
    // the scale knob folds the length band into the shuffle key (blocks
    // stop growing ∝ corpus); the contract is ZERO recall change — the
    // right side's ±1 band emission must cover every pair the exact
    // length filter admits, including pairs straddling a band boundary
    val a = Tables.documents(spark, sf).filter(col("doc_id") < 400)
      .select(col("doc_id").as("id_a"),
        lower(substring(col("text"), 1, 40)).as("s_a"))
    val b = a.filter(col("id_a") % 3 === 0)
      .select((col("id_a") + 20000).as("id_b"),
        concat(substring(col("s_a"), 1, 4), expr("substring(s_a, 6)")).as("s_b"))
    def run(band: Int) = graft.ops.Linkage.fuzzyJoin(a, b, "s_a", "s_b",
        maxDist = 2, prefixLen = 3, lengthBand = band)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    val plain = run(0)
    assert(plain.nonEmpty, "fixture sanity: the typo corpus must match")
    for (w <- Seq(3, 5, 40)) assert(run(w) == plain, s"band=$w diverged")
    // side symmetry: passing the BIG table as `right` must yield the
    // mirrored matches — the ±1 neighbor explode lands on whichever
    // side the optimizer estimates smaller, never blindly on `right`
    val swapped = graft.ops.Linkage.fuzzyJoin(b, a, "s_b", "s_a",
        maxDist = 2, prefixLen = 3, lengthBand = 5)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(swapped == plain, "argument order changed the banded matches")
    // hand case pinning the boundary: lengths 9 and 10 straddle the
    // w=5 band edge (bands 1 vs 2) yet sit 1 edit apart — only the
    // neighbor-band emission finds them
    val x = Seq((1L, "abcdefghi")).toDF("id", "s")
      .select(col("id").as("id_a"), col("s").as("s_a"))
    val y = Seq((2L, "abcdefghij")).toDF("id", "s")
      .select(col("id").as("id_b"), col("s").as("s_b"))
    val boundary = graft.ops.Linkage.fuzzyJoin(x, y, "s_a", "s_b",
        maxDist = 2, prefixLen = 3, lengthBand = 5)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(boundary == Set((1L, 2L, 1)), s"boundary pair lost: $boundary")
  }

  test("CMS-prefiltered coverage and scrub equal exact for ANY sketch width") {
    // CMS error is one-sided (est >= truth): no width can unflag a real
    // repeat, and false keeps die at the exact count that follows — so
    // answer-identity must hold BOTH at a generous width (the filter
    // actually drops unique grams) and at a deliberately tiny, fully
    // saturated one (w=4: nearly every gram survives to the exact stage,
    // exercising the false-keep kill path).
    val docs = graft.Tables.documents(spark, sf)
    val exact = Dedup.repeatedNgramCoverage(docs, "doc_id", "text")
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    for (w <- Seq(4, 1 << 15)) {
      val cms = Dedup.repeatedNgramCoverage(docs, "doc_id", "text",
          hashGrams = true, cmsPrefilterW = w)
        .orderBy("id").as[(Long, Long, Long)].collect().toSeq
      assert(cms == exact, s"coverage diverged at w=$w")
    }
    val exactClean = Dedup.removeRepeatedNgramSpans(docs, "doc_id", "text")
      .orderBy("id").as[(Long, String)].collect().toSeq
    val cmsClean = Dedup.removeRepeatedNgramSpans(docs, "doc_id", "text",
        hashGrams = true, cmsPrefilterW = 1 << 15)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(cmsClean == exactClean)
    assert(exact.exists(_._3 > 0), "fixture sanity: some coverage exists")
  }

  test("bm25 matches the hand formula; only query-term hits surface") {
    // 3-doc micro corpus, query {cat}: doc1 one hit (len 4), doc2 two
    // hits (len 4), doc3 none (len 2). N=3, df=2, sumdl=10.
    val docs = Seq(
      (1L, "cat dog bird fish"),
      (2L, "cat cat dog fish"),
      (3L, "dog fish")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, "doc_id", "text", Seq("cat"))
      .select($"id", round($"score", 6).as("score"))
      .as[(Long, Double)].collect().toMap
    val (k1, b) = (1.2, 0.75)
    val avgdl = 10.0 / 3.0
    val idf = math.log((3.0 - 2 + 0.5) / (2 + 0.5) + 1.0)
    def s(tf: Long, dl: Long): Double = {
      val ts = BigDecimal(idf * (tf * (k1 + 1)) /
        (tf + ((1 - b) + dl * b / avgdl) * k1))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      ts.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got.keySet == Set(1L, 2L), "doc without query terms must not surface")
    assert(got(1L) == s(1, 4) && got(2L) == s(2, 4), s"got $got")
    assert(got(2L) > got(1L), "higher tf must outrank at equal length")
    // multi-term: scores add per term (decimal-summed)
    val two = TextAnalysis.bm25(docs, "doc_id", "text", Seq("cat", "bird"))
      .select($"id", round($"score", 6).as("score"))
      .as[(Long, Double)].collect().toMap
    assert(two(1L) > got(1L), "second matching term must add score")
  }

  test("hashedClassifierMargin is BIT-equal to the hand fold (exact 2^-31-grid sums)") {
    def hex32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 8), 16)
    }
    def weight(t: String): Double =
      hex32("qclf:" + (hex32(t) % 4096L)) / 4294967296.0 * 2.0 - 1.0
    val texts = Seq("The quick brown Fox", "one", "a a a b", "")
    val expected = texts.map { x =>
      val toks = x.toLowerCase.split(" ", -1)
      toks.map(weight).sum / toks.length
    }
    val got = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "text")
      .select($"i", TextAnalysis.hashedClassifierMargin($"text").as("m"))
      .orderBy("i").as[(Int, Double)].collect().map(_._2).toSeq
    // == on Double, no tolerance: every summand is an exact multiple of
    // 2^-31, so the fold never rounds and any summation order agrees
    assert(got == expected, s"got $got expected $expected")
    // repeated tokens share a bucket weight (hash features, not counts-free)
    assert(weight("a") * 3 + weight("b") == got(2) * 4)
    // NULL text → NULL margin, never a fabricated 'drop'
    val n = Seq((1, Option.empty[String])).toDF("i", "text")
      .select(TextAnalysis.hashedClassifierMargin($"text").as("m"))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("classifier weight-table serving path == the expression path, bit-for-bit") {
    // the trained-weights swap X169 promises: serve the SAME stand-in
    // table through the literal-array path and match exactly — both
    // constructions land on identical exact doubles, so == holds. The
    // HOF reference form (per-token md5 weight derivation, no table) is
    // pinned against the native kernel in the same pass — the
    // cosineHof-pattern guarantee that the fused kernel computes the
    // same function the composable expression defines.
    val docs = graft.Tables.documents(spark, sf)
    val w = TextAnalysis.hashedClassifierWeights()
    val diff = docs.select(
        TextAnalysis.hashedClassifierMargin($"text").as("a"),
        TextAnalysis.hashedClassifierMarginFrom($"text", w).as("b"),
        TextAnalysis.hashedClassifierMarginHof($"text").as("c"))
      .filter(!($"a" <=> $"b") || !($"a" <=> $"c")).count()
    assert(diff == 0L, s"$diff docs diverge between serving paths")
  }

  test("setSimJoinExact == brute-force all-pairs (the prefix filter's completeness guarantee)") {
    // the operator's whole claim is NO miss probability: on a corpus
    // with twins spanning the threshold, the prefix-filtered join must
    // return exactly the pairs a driver-side all-pairs sweep finds
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", lower($"text").as("text")).limit(120)
      .as[(Long, String)].collect()
    val words = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      val keep = math.max(math.ceil(w.length * (0.5 + (id % 10) * 0.05)).toInt, 3)
      (id + 10000000L, w.take(keep).mkString(" "))
    }
    val corpus = docs ++ words
    val sets = corpus.map { case (id, t) =>
      id -> t.split(" ", -1).toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    }
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size; uni = (sa | sb).size
      if uni > 0 && 10L * inter >= 7L * uni
    } yield (a, b)).toSet
    val got = graft.ops.Dedup.setSimJoinExact(
        corpus.toSeq.toDF("doc_id", "text"), "doc_id", "text", 7, 10)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture produced no qualifying pairs")
    assert(got == brute,
      s"missed ${(brute -- got).take(5)}; spurious ${(got -- brute).take(5)}")
  }

  test("positional filter changes candidates but never output") {
    // PPJoin's first-shared-token bound must PRUNE (that's its job) yet
    // every pruned pair must be sub-threshold — dropped-and-qualifying
    // would be a completeness bug the brute-force pin might miss if the
    // fixture's qualifying pairs all carry slack
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", lower($"text").as("text")).limit(120)
      .as[(Long, String)].collect()
    val twins = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      val keep = math.max(math.ceil(w.length * (0.5 + (id % 10) * 0.05)).toInt, 3)
      (id + 10000000L, w.take(keep).mkString(" "))
    }
    val tok = Dedup.setSimTokFromSets(Dedup.setSimSets(
      (docs ++ twins).toSeq.toDF("doc_id", "text"), "doc_id", "text", 3))
    val prefix = Dedup.setSimPrefix(tok, tok.groupBy("tok").agg(count(lit(1)).as("cnt")), 7, 10)
      .persist()
    val pruned = Dedup.setSimCandFromPrefix(prefix, 7, 10)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // the unfiltered candidates, built on the driver from the same
    // prefix rows: every pair sharing a prefix token that passes the
    // length filter
    val full = prefix.select($"tok", $"id", $"s").as[(String, Long, Long)].collect()
      .groupBy(_._1).values.flatMap { rows =>
        for {
          (_, a, sa) <- rows.toSeq; (_, b, sb) <- rows.toSeq
          if a < b && 10L * math.min(sa, sb) >= 7L * math.max(sa, sb)
        } yield (a, b)
      }.toSet
    prefix.unpersist()
    assert(pruned.subsetOf(full), "positional filter may only remove candidates")
    assert(pruned.size < full.size,
      s"positional filter pruned nothing (${full.size} candidates)")
    // every dropped candidate is genuinely sub-threshold
    val sets = (docs ++ twins).map { case (id, t) =>
      id -> t.split(" ", -1).toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    }.toMap
    val qualifyingDropped = (full -- pruned).filter { case (a, b) =>
      val inter = (sets(a) & sets(b)).size
      val uni = (sets(a) | sets(b)).size
      uni > 0 && 10L * inter >= 7L * uni
    }
    assert(qualifyingDropped.isEmpty,
      s"positional filter dropped qualifying pairs: ${qualifyingDropped.take(5)}")
  }

  test("setSimJoinExactRS == brute-force all cross pairs (two-table completeness)") {
    // the R-S generalization's claim is the same NO-miss guarantee under
    // a shared union-frequency order: probes (prefix-keep twins spanning
    // the threshold) against the corpus must return exactly the cross
    // pairs a driver-side sweep finds
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", lower($"text").as("text")).limit(120)
      .as[(Long, String)].collect()
    val probes = docs.filter(_._1 % 5 == 0).map { case (id, t) =>
      val w = t.split(" ", -1)
      val keep = math.max(math.ceil(w.length * (0.5 + (id % 10) * 0.05)).toInt, 3)
      (id + 20000000L, w.take(keep).mkString(" "))
    }
    def setOf(t: String) = t.split(" ", -1).toSeq.sliding(3)
      .filter(_.size == 3).map(_.mkString(" ")).toSet
    val brute = (for {
      (a, ta) <- probes; (b, tb) <- docs
      sa = setOf(ta); sb = setOf(tb)
      inter = (sa & sb).size; uni = (sa | sb).size
      if uni > 0 && 10L * inter >= 7L * uni
    } yield (a, b)).toSet
    val got = graft.ops.Dedup.setSimJoinExactRS(
        probes.toSeq.toDF("doc_id", "text"), docs.toSeq.toDF("doc_id", "text"),
        "doc_id", "text", 7, 10)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture produced no qualifying cross pairs")
    assert(got == brute,
      s"missed ${(brute -- got).take(5)}; spurious ${(got -- brute).take(5)}")
  }

  test("q_classifier_holdout evaluates on docs provably disjoint from training") {
    // the whole point vs q_classifier_trained: the matrix must be
    // computed over the held-out side only, and the held-out side must
    // share no document with the side the threshold/weights saw
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id",
        (Sampling.hashBucket(md5(TextAnalysis.normalizeText($"text")), 100) < 80)
          .as("is_train"))
    val trainIds = docs.filter($"is_train").select("doc_id").as[Long].collect().toSet
    val holdIds = docs.filter(!$"is_train").select("doc_id").as[Long].collect().toSet
    assert(trainIds.nonEmpty && holdIds.nonEmpty, "split degenerate at this sf")
    assert((trainIds & holdIds).isEmpty, "split sides overlap")
    // the matrix totals exactly the holdout population — evaluation
    // cannot have touched a training document
    val m = graft.SparkEntry.queries("q_classifier_holdout")(spark, sf)
      .as[(String, String, Long, Double)].collect()
    assert(m.map(_._3).sum == holdIds.size.toLong,
      s"matrix covers ${m.map(_._3).sum} docs vs ${holdIds.size} held out")
    assert(m.map(_._1).distinct.length == 2,
      s"held-out gate is degenerate (one class): ${m.toSeq}")
  }

  test("q_classifier_holdout_sketch: sketch == discrete-rank anchor, matrix unchanged by the swap") {
    // the 100 TB swap's safety case: below the GK sketch's compression
    // onset (train count < accuracy), approx_percentile answers the
    // exact rank query bit-identically to percentile_disc — so the
    // teacher threshold, and therefore weights and the whole holdout
    // matrix, are UNCHANGED by gating on the sketch. (The interpolated
    // q_classifier_holdout is a different quartile convention —
    // documented at the query — so the comparison anchor here is disc.)
    val toksArr = TextAnalysis.tokens($"text")
    val feats = graft.Tables.documents(spark, sf).select($"doc_id",
      (size(filter(toksArr,
        t => t.isin(TextAnalysis.StopwordsEn.map(lit): _*))).cast("double") /
        size(toksArr).cast("double")).as("swr"),
      (Sampling.hashBucket(
        md5(TextAnalysis.normalizeText($"text")), 100) < 80).as("is_train"))
    val t = feats.filter($"is_train").agg(
      expr("approx_percentile(swr, 0.25, 10000)"),
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY swr)")).head()
    assert(!t.isNullAt(0) && !t.isNullAt(1), "fixture train side degenerate")
    assert(t.getDouble(0) == t.getDouble(1),
      s"sketch ${t.getDouble(0)} != disc anchor ${t.getDouble(1)} below compression")
    val m = graft.SparkEntry.queries("q_classifier_holdout_sketch")(spark, sf)
      .as[(String, String, Long, Double, Boolean)].collect()
    val holdN = feats.filter(!$"is_train").count()
    assert(m.map(_._3).sum == holdN,
      s"matrix covers ${m.map(_._3).sum} docs vs $holdN held out")
    assert(m.forall(_._5), s"sketch_within_bound false: ${m.toSeq}")
  }

  test("setSimAgainstIndex == setSimJoinExactRS (index round-trip loses nothing)") {
    // the index form changes the canonical order (stored corpus
    // frequency, unseen-probe tokens at cnt 0) and the storage path —
    // neither may change the answer of a LOSSLESS join
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", lower($"text").as("text")).limit(150)
    val words = split($"text", " ")
    val keep = greatest(ceil(size(words) *
        (lit(0.5) + ($"doc_id" % 10).cast("double") * lit(0.05))).cast("int"), lit(3))
    val probes = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 20000000L).as("doc_id"),
        array_join(slice(words, lit(1), keep), " ").as("text"))
    val idx = java.nio.file.Files.createTempDirectory("setsim_idx").toString + "/idx"
    graft.ops.Dedup.writeSetSimIndex(docs, "doc_id", "text", idx)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val direct = rows(graft.ops.Dedup.setSimJoinExactRS(
      probes, docs, "doc_id", "text", 7, 10))
    val indexed = rows(graft.ops.Dedup.setSimAgainstIndex(
      probes, "doc_id", "text", idx, docs, 7, 10))
    assert(direct.nonEmpty, "fixture produced no qualifying pairs")
    assert(indexed == direct,
      s"missed ${(direct -- indexed).take(5)}; spurious ${(indexed -- direct).take(5)}")
  }

  test("setSimJoinExactRS and setSimAgainstIndex on duplicated identical rows == " +
    "cross sweep, copies multiplied") {
    // a probe or corpus id present c times (identical copies) holds the
    // same prefix as one copy, and each pair returns once per
    // combination of copies (c_a·c_b rows), as in the self-join
    import SetSimBlockSpec._
    val corpusRows = duplicatedOf(baseOf(twinCorpus(spark, sf)))
    val probeRows = corpusRows.map { case (id, t) => (Long.box(id + 20000000L), t) }
    val (probes, corpus) = (frame(spark, probeRows), frame(spark, corpusRows))
    val idx = java.nio.file.Files.createTempDirectory("setsim_dup_idx").toString + "/idx"
    Dedup.writeSetSimIndex(corpus, "doc_id", "text", idx)
    for ((num, den) <- Seq((7, 10), (9, 10))) {
      val want = rows(sweep(probeRows, corpusRows, num, den, self = false)
        .toDF("id_a", "id_b", "inter", "uni")
        .select($"id_a", $"id_b",
          round($"inter".cast("double") / $"uni".cast("double"), 6).as("jaccard")))
      assert(want.nonEmpty, s"no cross pairs at $num/$den")
      for ((name, got) <- Seq(
          "setSimJoinExactRS" ->
            rows(Dedup.setSimJoinExactRS(probes, corpus, "doc_id", "text", num, den)),
          "setSimAgainstIndex" ->
            rows(Dedup.setSimAgainstIndex(probes, "doc_id", "text", idx, corpus, num, den))))
        assert(got == want, s"$name at $num/$den: ${got.size} rows vs ${want.size}; " +
          s"missing ${want.diff(got).take(5)}, extra ${got.diff(want).take(5)}")
    }
  }

  test("setSim index append: frozen-order batches serve losslessly") {
    // the order is FROZEN at build time; an appended batch (whose true
    // frequencies the snapshot has never seen) must still decontaminate
    // exactly — the shared-total-order argument, exercised end to end
    val all = graft.Tables.documents(spark, sf)
      .select($"doc_id", lower($"text").as("text")).limit(150)
    val base = all.filter($"doc_id" % 3 =!= 0)
    val batch = all.filter($"doc_id" % 3 === 0)
    val words = split($"text", " ")
    val keep = greatest(ceil(size(words) *
        (lit(0.5) + ($"doc_id" % 10).cast("double") * lit(0.05))).cast("int"), lit(3))
    val probes = all.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 20000000L).as("doc_id"),
        array_join(slice(words, lit(1), keep), " ").as("text"))
    val idx = java.nio.file.Files.createTempDirectory("setsim_idx_app").toString + "/idx"
    graft.ops.Dedup.writeSetSimIndex(base, "doc_id", "text", idx)
    graft.ops.Dedup.appendToSetSimIndex(batch, "doc_id", "text", idx)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val direct = rows(graft.ops.Dedup.setSimJoinExactRS(
      probes, all, "doc_id", "text", 7, 10))
    val indexed = rows(graft.ops.Dedup.setSimAgainstIndex(
      probes, "doc_id", "text", idx, all, 7, 10))
    assert(direct.nonEmpty, "fixture produced no qualifying pairs")
    // sanity: some qualifying pairs involve APPENDED docs, or the test
    // proves nothing about the frozen-order batch path
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    assert(direct.exists { case (_, b, _) => batchIds.contains(b) },
      "no qualifying pair touches the appended batch")
    assert(indexed == direct,
      s"missed ${(direct -- indexed).take(5)}; spurious ${(indexed -- direct).take(5)}")
  }

  test("setSimIndexDrift: drifted appends trip re-freeze; output stays identical") {
    // the gauge's contract: the re-freeze signal is about PRUNING, never
    // about correctness — a fixture whose appended batch inverts the
    // frozen frequency order must trip the signal while the index still
    // serves the exact same pairs as the direct two-table join
    val all = graft.Tables.documents(spark, sf)
      .select($"doc_id", lower($"text").as("text")).limit(150)
    val base = all.filter($"doc_id" % 3 =!= 0)
    // shared boilerplate the snapshot never saw: stored cnt 0 ("rarest",
    // so it floods every appended doc's prefix) yet the most common
    // tokens of the new corpus — the canonical drift failure mode
    val batch = all.filter($"doc_id" % 3 === 0)
      .select(($"doc_id" + 30000000L).as("doc_id"),
        concat(lit("the quick brown fox jumps over the lazy dog and then "),
          $"text").as("text"))
    val idx = java.nio.file.Files.createTempDirectory("setsim_idx_drift").toString + "/idx"
    graft.ops.Dedup.writeSetSimIndex(base, "doc_id", "text", idx)
    // pre-append: the index IS its own freeze — no drift, no trip
    val calm = graft.ops.Dedup.setSimIndexDrift(spark, idx, 7, 10, sampleMod = 1)
      .collect().head
    assert(!calm.getBoolean(4), s"freshly frozen index tripped: $calm")
    assert(calm.getDouble(1) == 1.0, s"fresh index rank_corr ${calm.getDouble(1)}")
    graft.ops.Dedup.appendToSetSimIndex(batch, "doc_id", "text", idx)
    val drifted = graft.ops.Dedup.setSimIndexDrift(spark, idx, 7, 10, sampleMod = 1)
      .collect().head
    assert(drifted.getBoolean(4), s"drifted fixture did not trip: $drifted")
    assert(drifted.getLong(2) > 2 * drifted.getLong(3),
      s"stored mass ${drifted.getLong(2)} vs refrozen ${drifted.getLong(3)}")
    // ...while the answer is STILL exact: index-served == direct join
    // over the grown corpus (losslessness unaffected by drift)
    val corpus = base.unionAll(batch.select($"doc_id", $"text"))
    val words = split($"text", " ")
    val keep = greatest(ceil(size(words) *
        (lit(0.5) + ($"doc_id" % 10).cast("double") * lit(0.05))).cast("int"), lit(3))
    val probes = corpus.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 60000000L).as("doc_id"),
        array_join(slice(words, lit(1), keep), " ").as("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val direct = rows(graft.ops.Dedup.setSimJoinExactRS(
      probes, corpus, "doc_id", "text", 7, 10))
    val indexed = rows(graft.ops.Dedup.setSimAgainstIndex(
      probes, "doc_id", "text", idx, corpus, 7, 10))
    assert(direct.nonEmpty, "fixture produced no qualifying pairs")
    assert(indexed == direct,
      s"missed ${(direct -- indexed).take(5)}; spurious ${(indexed -- direct).take(5)}")
  }

  test("q_setsim_vs_lsh: exact tier dominates LSH on the same measure") {
    // invariants the pricing table must satisfy by construction: the
    // exact join can never find FEWER pairs than LSH recovers (recovered
    // pairs are a subset), pairs never exceed candidates on either tier,
    // and higher thresholds only shrink both pair counts
    val rows = graft.SparkEntry.queries("q_setsim_vs_lsh")(spark, sf)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(5), r.getLong(6)))
    assert(rows.length == 2)
    rows.foreach { case (t, exact, rec, missed, exCand, lshCand) =>
      assert(rec <= exact, s"t=$t: LSH recovered $rec > exact $exact")
      assert(missed == exact - rec)
      assert(exact <= exCand, s"t=$t: pairs $exact > candidates $exCand")
      assert(rec <= lshCand, s"t=$t: recovered $rec > LSH candidates $lshCand")
    }
    val Array(r7, r9) = rows.sortBy(_._1)
    assert(r9._2 <= r7._2, "exact pairs must shrink as the threshold rises")
    assert(r9._5 <= r7._5, "exact candidates must shrink as the threshold rises")
    assert(r7._2 > 0, "fixture produced no exact pairs at 0.7")
  }

  test("trained classifier gate really separates (not the stand-in's coin-flip)") {
    // q_classifier_trained's promise: weights fitted against the
    // teacher produce REAL agreement — the diagonal carries the corpus
    // and the gate emits both classes (the uncentered estimate
    // degenerated to all-keep under a 75%-keep prior; this pins the fix)
    val m = graft.SparkEntry.queries("q_classifier_trained")(spark, sf)
      .as[(String, String, Long, Double)].collect()
    val total = m.map(_._3).sum
    val diag = m.filter(r => r._1 == r._2).map(_._3).sum
    assert(total > 0)
    assert(diag.toDouble / total >= 0.6,
      s"trained gate agrees on only $diag/$total")
    assert(m.map(_._1).distinct.length == 2,
      s"trained gate is degenerate (one class): ${m.toSeq}")
  }

  test("mixture schedule: exact budget identity, cap respected, composes with weightedMixture") {
    val sched = graft.SparkEntry.queries("q_mixture_schedule")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val totalAvail = sched.map(_._2).sum
    val budget = 2L * totalAvail
    val n = sched.length
    val realized = sched.map(_._4).sum
    val unalloc = sched.head._8
    // the exact-arithmetic bound: realized + unallocated + the integer-
    // division remainder of the equal split reconstruct the budget
    assert(realized + unalloc + budget % n == budget,
      s"budget identity broken: $realized + $unalloc + ${budget % n} != $budget")
    assert(unalloc >= 0 && unalloc < n, s"floor loss out of bounds: $unalloc")
    sched.foreach { r =>
      assert(r._4 <= 4 * r._2, s"${r._1} exceeds the 4-epoch cap: $r")
      assert(r._5 >= 0.0 && r._5 <= 4.0, s"${r._1} epochs out of range: $r")
      // full passes + fractional pct reconstruct the realized tokens
      // (DIV identities): realized = full*avail + (pct-ish remainder)
      assert(r._6 * r._2 <= r._4 && r._4 < (r._6 + 1) * r._2 || r._2 == 0,
        s"${r._1} full_epochs inconsistent: $r")
      assert(r._7 >= 0 && r._7 <= 99, s"${r._1} final_pass_pct out of range: $r")
    }
    // the schedule is EXECUTABLE: its final_pass_pct column is
    // weightedMixture's pctByStratum input — a fractional source's
    // sampled final pass keeps a non-empty strict subset
    val frac = sched.filter(r => r._7 > 0 && r._7 < 100)
    assert(frac.nonEmpty, "fixture exercises no fractional final pass")
    val pctMap = sched.map(r => r._1 -> r._7.toInt).toMap
    val docs = graft.Tables.documents(spark, sf)
    val kept = graft.ops.Sampling.weightedMixture(
      docs, "source", "doc_id", pctMap, defaultPct = 0)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val all = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    frac.foreach { r =>
      val k = kept.getOrElse(r._1, 0L)
      assert(k < all(r._1),
        s"${r._1} sampled pass kept everything at pct=${r._7}")
    }
    assert(frac.exists(r => kept.getOrElse(r._1, 0L) > 0),
      "every fractional source sampled empty")
  }

  test("ANN/decontamination paths survive degenerate corpora (zero/one centroid, empty bench)") {
    // DegenerateSweep findings, pinned as units: an empty corpus seeds
    // zero IVF centroids (greatest() with 0 args won't even analyze), a
    // 1-row corpus seeds one (greatest() needs >= 2), and an empty
    // benchmark NPEs Spark's bloom aggregate. Each must degrade to the
    // right EMPTY/identity answer, never a throw.
    val emptyVecs = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    val a0 = Similarity.ivfAssign(emptyVecs, "vec_id", "embedding", Array.empty)
    assert(a0.count() == 0 && a0.columns.contains("__cell"))
    val one = Seq((7L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val a1 = Similarity.ivfAssign(one, "vec_id", "embedding",
        Array(0L -> Array(1.0, 0.0)))
      .select("vec_id", "__cell").as[(Long, Long)].collect().toSeq
    assert(a1 == Seq((7L, 0L)))
    val q = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    assert(Similarity.ivfJoin(q, emptyVecs, "vec_id", "embedding",
      k = 3, m = 8).count() == 0)
    // empty benchmark: bloom path must equal the exact path (everything
    // uncontaminated), not NPE on the null bloom buffer
    val docs = Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val exact = Dedup.contamination(docs, bench, "doc_id", "text", n = 2)
      .orderBy("id").collect().toSeq
    val bloom = Dedup.bloomContamination(docs, bench, "doc_id", "text", n = 2)
      .orderBy("id").collect().toSeq
    assert(bloom == exact && exact.length == 2)
    assert(exact.forall(_.getLong(2) == 0L), "empty bench must contaminate nothing")
    // a STALE caller estimate over an actually-empty bench (truncated
    // bench table, size estimate from before the truncation) must take
    // the same empty path — the guard keys off actual emptiness, not
    // the estimate — never reach the null-buffer bloom aggregate
    val bloomStale = Dedup.bloomContamination(docs, bench, "doc_id", "text",
        n = 2, expectedItems = 1000L)
      .orderBy("id").collect().toSeq
    assert(bloomStale == exact,
      "stale positive estimate over an empty bench must still answer empty")
  }

  test("ANN probes answer EMPTY when the query vector is absent (rows but no vec_id 0)") {
    // the fixture the degenerate sweep can't produce: a NON-empty corpus
    // that lacks the query vector's id. A synthetic zero-vector probe
    // would return top-k rows with engine-divergent zero-norm cosines;
    // the contract is an empty frame with the declared schema.
    val dir = s"${sys.props("java.io.tmpdir")}/graft_ann_noquery"
    graft.Tables.embeddings(spark, sf).filter($"vec_id" =!= 0)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    for (q <- Seq("q_ann_bruteforce", "q_ann_lsh")) {
      val out = graft.SparkEntry.queries(q)(spark, dir)
      assert(out.columns.toSeq == Seq("vec_id", "sim"), s"$q schema drifted")
      assert(out.count() == 0, s"$q probed with a synthetic query vector")
    }
  }

  test("q_dsir_weights drops NULL-text / zero-token eval docs (inner-join membership)") {
    // The oracle scores docs via `etoks JOIN lm`: a doc whose unnest yields
    // no tokens (NULL text) contributes NO row. The array-fold rewrite must
    // preserve that membership — a NULL/0 log_w row would displace
    // negative-weight docs from the top-50 on a degenerate corpus. Fixture:
    // target docs + a tiny eval side (< 50 docs, so every surviving eval
    // doc reaches the limit) + one NULL-text eval doc.
    val dir = s"${sys.props("java.io.tmpdir")}/graft_dsir_degenerate"
    val base = graft.Tables.documents(spark, sf)
    val target = base.filter($"source" === "src0")
    val eval10 = base.filter($"source" === "src1").limit(10)
    val nullDoc = Seq((999999L, null: String, "en", "src1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    target.unionByName(eval10).unionByName(nullDoc)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("q_dsir_weights")(spark, dir)
      .select("doc_id", "log_w").as[(Long, Option[Double])].collect().toSeq
    assert(out.length == 10, s"expected the 10 scoreable eval docs, got ${out.length}")
    assert(!out.exists(_._1 == 999999L), "NULL-text doc must not surface")
    assert(out.forall(_._2.isDefined), "no NULL log_w rows may be emitted")
  }
}
