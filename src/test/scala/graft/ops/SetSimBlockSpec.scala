package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}

/** Differential test of the block-local PPJoin behind
  * `Dedup.setSimJoinExact`: on the twin corpora and on degenerate
  * fixtures it must return the rows of a driver-side all-pairs sweep
  * (`SetSimBlockSpec.sweep`). The tests named "== join chain" compare
  * with the prefix self-join → distinct → fetch-join chain the kernel
  * replaced; on those fixtures the chain returned exactly the sweep's
  * rows, and the sweep is now the reference.
  */
class SetSimBlockSpec extends SparkSpec {
  import spark.implicits._
  import SetSimBlockSpec._

  /** The sweep's pairs of `docs` at num/den, `jaccard` rounded by Spark
    * as the join rounds it.
    */
  private def swept(docs: Seq[Doc], num: Int, den: Int): Seq[(Long, Long, Long)] =
    rows(sweep(docs, docs, num, den, self = true).toDF("id_a", "id_b", "inter", "uni")
      .select($"id_a", $"id_b",
        round($"inter".cast("double") / $"uni".cast("double"), 6).as("jaccard")))

  private def same(docs: Seq[Doc], num: Int, den: Int, minPairs: Int = 1): Seq[(Long, Long, Long)] = {
    val want = swept(docs, num, den)
    val got = rows(Dedup.setSimJoinExact(frame(spark, docs), "doc_id", "text", num, den))
    assert(got == want, s"rows differ at $num/$den:\n${got.diff(want).take(5)}\n" +
      s"vs\n${want.diff(got).take(5)}")
    assert(want.size >= minPairs, s"${want.size} pairs: the fixture would not exercise the kernel")
    got
  }

  // ---- fixtures ----------------------------------------------------------

  /** The sf0.001 twin corpus as rows, documents first. */
  private lazy val corpus: Seq[Doc] = twinCorpus(spark, sf)

  /** Its first 60 documents and their twins. */
  private lazy val base: Seq[Doc] = baseOf(corpus)

  private val Thresholds = Seq((7, 10), (1, 2), (9, 10), (1, 1))

  // ---- the twin corpora ----------------------------------------------------

  for (dir <- Seq(sf, new java.io.File(sf).getParent + "/sf0.01"); (num, den) <- Thresholds)
    test(s"setSimJoinExact == join chain on the ${new java.io.File(dir).getName} " +
      s"twin corpus at $num/$den") {
      same(twinCorpus(spark, dir), num, den)
    }

  test("setSimExactCounts and lshGeometryFrontier count setSimJoinExact's pairs " +
    "on the sf0.001 twin corpus") {
    val docs = frame(spark, corpus)
    val exact = Thresholds.map { case (num, den) =>
      Dedup.setSimJoinExact(docs, "doc_id", "text", num, den)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq }
    val joined = exact.map(_.size.toLong)
    val counts = Dedup.setSimExactCounts(docs, "doc_id", "text", Thresholds)
    assert(counts.map(_._4) == joined, s"setSimExactCounts $counts vs $joined")
    assert(counts.forall { case (_, _, cand, pairs) => cand >= pairs }, counts)
    assert(joined.forall(_ > 0), joined)
    // every row of the frontier against a driver-side reference: per
    // geometry the capped LSH candidates, per threshold the exact pairs
    // among them
    val cands = Dedup.lshGeometries.map { case (k, r) =>
      (k, r) -> Dedup.lshCandidates(Dedup.lshBands(
          Dedup.minhashSignatureNarrow(docs, "doc_id", "text", k = k), k, r))
        .as[(Long, Long)].collect().toSet }.toMap
    val want = (for {
      ((num, den), pairs) <- Thresholds.zip(exact); ((k, r), cand) <- cands
    } yield (num.toDouble / den, k, r) ->
      (k / r, pairs.size.toLong, pairs.toSet.count(cand).toLong, cand.size.toLong)).toMap
    val got = Dedup.lshGeometryFrontier(docs, "doc_id", "text", Thresholds).collect()
      .map(row => (row.getDouble(0), row.getInt(1), row.getInt(2)) -> row).toMap
    assert(got.size == Thresholds.size * Dedup.lshGeometries.size && got.keySet == want.keySet,
      s"frontier rows ${got.keySet.diff(want.keySet)} vs ${want.keySet.diff(got.keySet)}")
    for (((t, k, r), (bands, nExact, nRec, nCand)) <- want) {
      val row = got((t, k, r))
      assert((row.getInt(3), row.getLong(5), row.getLong(6), row.getLong(8)) ==
        ((bands, nExact, nRec, nCand)), s"frontier row $row vs ($bands, $nExact, $nRec, $nCand)")
      def round4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(row.getDouble(4) == round4(Dedup.lshCaptureProb(t, r, bands)), row)
      assert(row.getDouble(7) == round4(nRec.toDouble / nExact), row)
    }
    // the fixture exercises recall: some geometry misses pairs another finds
    assert(want.values.exists { case (_, e, rec, _) => rec > 0 && rec < e }, want)
  }

  // ---- degenerate fixtures -------------------------------------------------

  test("setSimJoinExact == join chain on an empty frame") {
    for ((num, den) <- Thresholds) same(Nil, num, den, minPairs = 0)
  }

  test("setSimJoinExact == join chain with documents of fewer than 3 words") {
    val short = Seq[Doc]((900L, ""), (901L, "a"), (902L, "a b"),
      (903L, "a b"), (904L, "a b c"), (905L, "a b c"), (906L, " "))
    for ((num, den) <- Thresholds) same(base ++ short, num, den)
    // the two 3-word documents are one pair at J = 1
    assert(same(short, 1, 1) == Seq((904L, 905L, java.lang.Double.doubleToLongBits(1.0))))
  }

  test("setSimJoinExact == join chain with NULL text and NULL ids") {
    // 912 repeats the first document's text: at 1/1 it is the one pair
    val nulls = Seq[Doc]((910L, null), (911L, null), (912L, base.head._2),
      (null, base.head._2), (null, base.head._2), (null, base(70)._2), (null, null))
    for ((num, den) <- Thresholds) {
      val got = same(base ++ nulls, num, den)
      assert(!got.exists { case (a, b, _) => a == 910L || b == 910L || a == 911L || b == 911L })
    }
  }

  test("setSimJoinExact == join chain with one block of 300 identical documents") {
    val text = base.head._2
    val giant = (1 to 300).map(i => (Long.box(1000L + i), text))
    val got = same(giant ++ base.take(20), 7, 10)
    assert(got.count { case (a, b, _) => a > 1000L && b <= 1300L } == 300 * 299 / 2)
  }

  // Duplicated identical rows are one document per id, and each pair is
  // returned once per combination of copies.
  private lazy val duplicated: Seq[Doc] = duplicatedOf(base)

  test("setSimJoinExact == join chain with duplicated identical rows at 1/1") {
    val got = same(duplicated, 1, 1)
    val one = java.lang.Double.doubleToLongBits(1.0)
    // the first document has three copies, and its text under id + 500 one
    val first = base.head._1.longValue
    assert(got.count(_ == ((first, first + 500L, one))) == 3, got.take(10))
  }

  test("setSimJoinExact with duplicated identical rows == all-pairs sweep, copies multiplied") {
    for ((num, den) <- Seq((7, 10), (9, 10))) same(duplicated, num, den)
  }

  // ---- the pair kernel -----------------------------------------------------

  test("pair kernel: the positional filter prunes but never drops a qualifying pair, " +
    "and only the first common element's block verifies") {
    // every pair that shares a prefix element, under a rarest-first
    // order of this fixture, checked in each block it meets
    val sets = corpus.map { case (id, t) => id.longValue -> shingleSet(t) }
    val freq = sets.flatMap(_._2).groupBy(identity).map { case (t, ts) => t -> ts.size }
    val order = freq.keys.toSeq.sortBy(t => (freq(t), t)).zipWithIndex.toMap
    val pruned = Seq((7, 10), (1, 2), (9, 10)).map { case (num, den) =>
      val prefixed = sets.map { case (id, set) =>
        val arr = set.toArray.map(t => order(t).toLong).sorted
        val s = arr.length
        val p = (s - (num.toLong * s + den - 1) / den + 1).toInt
        (id, arr, arr.take(p))
      }
      var positional = 0
      var verified = 0
      for {
        (ia, a, pa) <- prefixed; (ib, b, pb) <- prefixed if ia < ib
        if den.toLong * math.min(a.length, b.length) >= num.toLong * math.max(a.length, b.length)
        shared = pa.filter(pb.contains) if shared.nonEmpty
        e <- shared
      } {
        def row(id: Long, arr: Array[Long]) =
          Dedup.SetSimPrefix(e, id, arr.length, arr.indexOf(e) + 1, 1, arr)
        val inter = a.intersect(b).length.toLong
        val qualifies = (num + den).toLong * inter >= num.toLong * (a.length + b.length)
        val verdict = Dedup.setSimPairOverlap(row(ia, a), row(ib, b), num, den)
        if (e == shared.head) {
          assert(if (qualifies) verdict == inter else verdict < 0,
            s"($ia, $ib) at $num/$den: overlap $inter, verdict $verdict")
          if (verdict == Dedup.SetSimPositional) positional += 1
          if (verdict >= 0) verified += 1
        } else assert(verdict == Dedup.SetSimPositional || verdict == Dedup.SetSimNotFirst,
          s"($ia, $ib) at $num/$den verified in a later block: $verdict")
      }
      assert(verified > 0, s"nothing verified at $num/$den")
      positional
    }
    // at 9/10 the prefixes are too short for the bound to bite here
    assert(pruned.take(2).forall(_ > 0), s"pruned by position: $pruned")
  }
}

/** The set-sim fixtures and the driver-side all-pairs sweep, shared with
  * the two-table tests in ExtensionsSpec.
  */
object SetSimBlockSpec {
  type Doc = (java.lang.Long, String)

  private val Schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** `docs` as a (doc_id, text) frame of three partitions. */
  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (id, t) => Row(id, t) }, 3), Schema)

  /** A pair frame's rows as a sorted multiset, `jaccard` by its bits;
    * the frame is released.
    */
  def rows(df: DataFrame): Seq[(Long, Long, Long)] = {
    import df.sparkSession.implicits._
    val out = df.select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b, java.lang.Double.doubleToLongBits(j)) }.sorted.toSeq
    df.unpersist()
    out
  }

  /** The distinct word 3-grams of `text` under `split(text, " ", -1)`
    * semantics; none for a NULL text.
    */
  def shingleSet(text: String): Set[String] =
    if (text == null) Set.empty
    else text.split(" ", -1).toSeq.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet

  /** (a, b, |A∩B|, |A∪B|) for every a of `left` and b of `right` (a < b
    * when `self`) with den·|A∩B| ≥ num·|A∪B| over distinct 3-gram sets,
    * once per combination of copies of the two rows; NULL ids never pair.
    */
  def sweep(left: Seq[Doc], right: Seq[Doc], num: Int, den: Int,
            self: Boolean): Seq[(Long, Long, Long, Long)] = {
    def sets(docs: Seq[Doc]) = docs.filter(_._1 != null).groupBy(_._1.longValue).toSeq
      .map { case (id, rs) => (id, rs.size, shingleSet(rs.head._2)) }
    val r = sets(right)
    for {
      (a, ca, sa) <- sets(left)
      (b, cb, sb) <- r if !self || a < b
      inter = (sa & sb).size.toLong
      uni = sa.size + sb.size - inter if uni > 0 && den * inter >= num * uni
      _ <- 0 until ca * cb
    } yield (a, b, inter, uni)
  }

  /** q_setsim_join's corpus in `dir`: every document plus a prefix-keep
    * twin, as rows sorted by id.
    */
  def twinCorpus(spark: SparkSession, dir: String): Seq[Doc] = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val words = split(col("text"), " ")
    val keep = greatest(ceil(size(words) *
        (lit(0.5) + (col("doc_id") % 10).cast("double") * lit(0.05)))
      .cast("int"), lit(3))
    docs.unionAll(docs.select((col("doc_id") + 10000000L).as("doc_id"),
        array_join(slice(words, lit(1), keep), " ").as("text")))
      .as[(Long, String)].collect().toSeq.sortBy(_._1).map { case (id, t) => (Long.box(id), t) }
  }

  /** The first 60 documents of a twin corpus and their twins. */
  def baseOf(corpus: Seq[Doc]): Seq[Doc] =
    corpus.take(60) ++ corpus.filter(_._1 >= 10000000L).take(60)

  /** Duplicated identical rows: the first two documents in three
    * copies, the next six and four twins in two, and the first four
    * texts once more under id + 500.
    */
  def duplicatedOf(base: Seq[Doc]): Seq[Doc] =
    base ++ base.take(8) ++ base.slice(60, 64) ++ base.take(2) ++
      base.take(4).map { case (id, t) => (Long.box(id + 500L), t) }
}
