package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}

/** Differential test of the block-local PPJoin behind
  * `Dedup.setSimJoinExact`: on the twin corpora and on degenerate
  * fixtures it must return the rows of the prefix self-join → distinct →
  * fetch-join chain it replaced, which is kept here as the reference.
  */
class SetSimBlockSpec extends SparkSpec {
  import spark.implicits._

  private val Disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  // ---- reference: the prefix self-join → verify chain ---------------------

  private def setSimJoinExactChain(docs: DataFrame, idCol: String, textCol: String,
                                   num: Int, den: Int, n: Int = 3): DataFrame = {
    import Dedup._
    require(num >= 1 && den >= num,
      s"need a threshold in (0, 1]: got $num/$den")
    // documents with fewer than n words have no shingle set and are
    // absent from the join (the minhash-tier contract)
    // the corpus is TOKENIZED once per join (r19): the persisted per-doc
    // array frame feeds the frequency aggregate and the order join (as
    // cheap explodes of cached arrays) AND the verification fetch (the
    // arrays are the sets) — the r18 shape persisted the exploded rows
    // instead, which left verification re-shingling every candidate doc
    // from raw text (profiled as q_setsim_join's largest wall stage)
    val sets = setSimSets(docs, idCol, textCol, n).persist(Disk)
    val tok = setSimTokFromSets(sets)
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    // the prefix frame feeds BOTH sides of the candidate self-join, and
    // the broadcast build side defeats exchange reuse — the r18 plan
    // capture (plans/r18/setsim_candidates_stage.txt) shows the whole
    // explode → frequency → order-window pipeline planned TWICE. Persist
    // it once; released after the verify stage materializes.
    val prefix = setSimPrefix(tok, freq, num, den).persist(Disk)
    setSimVerify(setSimCandFromPrefix(prefix, num, den, positionalFilter = true),
      docs, docs, idCol, textCol, num, den, n,
      releasables = Seq(sets, prefix),
      preSetsA = Some(sets), preSetsB = Some(sets))
  }

  /** Full rows as a sorted multiset, `jaccard` by its bits. */
  private def rows(df: DataFrame): Seq[(Long, Long, Long)] = {
    val out = df.select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b, java.lang.Double.doubleToLongBits(j)) }.sorted.toSeq
    df.unpersist()
    out
  }

  private def same(docs: DataFrame, num: Int, den: Int, minPairs: Int = 1): Seq[(Long, Long, Long)] = {
    val want = rows(setSimJoinExactChain(docs, "doc_id", "text", num, den))
    val got = rows(Dedup.setSimJoinExact(docs, "doc_id", "text", num, den))
    assert(got == want, s"rows differ at $num/$den:\n${got.diff(want).take(5)}\n" +
      s"vs\n${want.diff(got).take(5)}")
    assert(want.size >= minPairs, s"${want.size} pairs: the fixture would not exercise the kernel")
    got
  }

  // ---- fixtures ----------------------------------------------------------

  /** q_setsim_join's corpus: every document plus a prefix-keep twin. */
  private def twins(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val keep = greatest(ceil(size(words) *
        (lit(0.5) + (col("doc_id") % 10).cast("double") * lit(0.05)))
      .cast("int"), lit(3))
    docs.unionAll(docs.select((col("doc_id") + 10000000L).as("doc_id"),
      array_join(slice(words, lit(1), keep), " ").as("text")))
  }

  private val Schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def frame(rows: Seq[(java.lang.Long, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, t) => Row(id, t) }, 3), Schema)

  /** The sf0.001 twin corpus as rows, documents first. */
  private lazy val corpus: Seq[(java.lang.Long, String)] =
    twins(Tables.documents(spark, sf).select($"doc_id", $"text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1).map { case (id, t) => (Long.box(id), t) }

  /** Its first 60 documents and their twins. */
  private lazy val base: Seq[(java.lang.Long, String)] =
    corpus.take(60) ++ corpus.filter(_._1 >= 10000000L).take(60)

  private val Thresholds = Seq((7, 10), (1, 2), (9, 10), (1, 1))

  // ---- the twin corpora ----------------------------------------------------

  for (dir <- Seq(sf, new java.io.File(sf).getParent + "/sf0.01"); (num, den) <- Thresholds)
    test(s"setSimJoinExact == join chain on the ${new java.io.File(dir).getName} " +
      s"twin corpus at $num/$den") {
      same(twins(Tables.documents(spark, dir).select($"doc_id", $"text")), num, den)
    }

  // ---- degenerate fixtures -------------------------------------------------

  test("setSimJoinExact == join chain on an empty frame") {
    for ((num, den) <- Thresholds) same(frame(Nil), num, den, minPairs = 0)
  }

  test("setSimJoinExact == join chain with documents of fewer than 3 words") {
    val short = Seq[(java.lang.Long, String)]((900L, ""), (901L, "a"), (902L, "a b"),
      (903L, "a b"), (904L, "a b c"), (905L, "a b c"), (906L, " "))
    for ((num, den) <- Thresholds) same(frame(base ++ short), num, den)
    // the two 3-word documents are one pair at J = 1
    assert(same(frame(short), 1, 1) == Seq((904L, 905L, java.lang.Double.doubleToLongBits(1.0))))
  }

  test("setSimJoinExact == join chain with NULL text and NULL ids") {
    // 912 repeats the first document's text: at 1/1 it is the one pair
    val nulls = Seq[(java.lang.Long, String)]((910L, null), (911L, null), (912L, base.head._2),
      (null, base.head._2), (null, base.head._2), (null, base(70)._2), (null, null))
    for ((num, den) <- Thresholds) {
      val got = same(frame(base ++ nulls), num, den)
      assert(!got.exists { case (a, b, _) => a == 910L || b == 910L || a == 911L || b == 911L })
    }
  }

  test("setSimJoinExact == join chain with one block of 300 identical documents") {
    val text = base.head._2
    val giant = (1 to 300).map(i => (Long.box(1000L + i), text))
    val got = same(frame(giant ++ base.take(20)), 7, 10)
    assert(got.count { case (a, b, _) => a > 1000L && b <= 1300L } == 300 * 299 / 2)
  }

  // Duplicated identical rows are one document per id, and each pair is
  // returned once per combination of copies. At 1/1 every prefix is one
  // element, and the chain agrees. Below 1/1 the chain numbers a
  // duplicated id's rows c·s positions deep but cuts the prefix at s, so
  // its prefix holds only ⌈p/c⌉ distinct shingles and it misses pairs;
  // there the expected rows are the driver-side all-pairs sweep.
  private lazy val duplicated: Seq[(java.lang.Long, String)] =
    base ++ base.take(8) ++ base.slice(60, 64) ++ base.take(2) ++
      base.take(4).map { case (id, t) => (Long.box(id + 500L), t) }

  test("setSimJoinExact == join chain with duplicated identical rows at 1/1") {
    val got = same(frame(duplicated), 1, 1)
    val one = java.lang.Double.doubleToLongBits(1.0)
    // the first document has three copies, and its text under id + 500 one
    val first = base.head._1.longValue
    assert(got.count(_ == ((first, first + 500L, one))) == 3, got.take(10))
  }

  test("setSimJoinExact with duplicated identical rows == all-pairs sweep, copies multiplied") {
    val docs = frame(duplicated)
    val copies = duplicated.groupBy(_._1.longValue).map { case (id, rs) => id -> rs.size }
    val sets = duplicated.distinct.map { case (id, t) =>
      id.longValue -> t.split(" ", -1).toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    }
    for ((num, den) <- Seq((7, 10), (9, 10))) {
      val brute = for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size.toLong; uni = (sa | sb).size.toLong
        if uni > 0 && den * inter >= num * uni
        _ <- 0 until copies(a) * copies(b)
      } yield (a, b, inter, uni)
      val want = rows(brute.toDF("id_a", "id_b", "inter", "uni")
        .select($"id_a", $"id_b", round($"inter".cast("double") / $"uni".cast("double"), 6)
          .as("jaccard")))
      val got = rows(Dedup.setSimJoinExact(docs, "doc_id", "text", num, den))
      assert(got == want, s"rows differ at $num/$den:\n${got.diff(want).take(5)}\n" +
        s"vs\n${want.diff(got).take(5)}")
      assert(want.nonEmpty, s"no pairs at $num/$den")
    }
  }

  // ---- the pair kernel -----------------------------------------------------

  test("pair kernel: the positional filter prunes but never drops a qualifying pair, " +
    "and only the first common element's block verifies") {
    // every pair that shares a prefix element, under a rarest-first
    // order of this fixture, checked in each block it meets
    val sets = corpus.map { case (id, t) =>
      id.longValue -> t.split(" ", -1).toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    }
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
