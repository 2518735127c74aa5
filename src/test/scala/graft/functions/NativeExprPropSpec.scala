package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec
import graft.ops.Dedup

/** Property tests: the byte-level native expressions must agree with the
  * composable Spark-SQL formulations on ANY text — unicode (multi-byte
  * UTF-8 must not confuse the 0x20 split scan), repeated/leading/trailing
  * spaces (empty words are legal tokens), empty strings, and single
  * words. Generators driven directly (scalatestplus bridge not in the
  * offline dep set).
  */
class NativeExprPropSpec extends SparkSpec {
  import spark.implicits._

  private val word: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(8)),
    Gen.const(""),
    Gen.oneOf("é", "日本語", "𝒳", "naïve", "käse", "a.b", "x,y", "∑∆"),
    Gen.listOfN(3, Gen.choose('!', '~')).map(_.mkString))

  private val text: Gen[String] = for {
    n <- Gen.choose(0, 12)
    ws <- Gen.listOfN(n, word)
    sep <- Gen.oneOf(" ", "  ", " ")
  } yield ws.mkString(sep)

  private def samples(n: Int): Seq[String] =
    (Iterator.continually(text.sample).flatten.take(n).toSeq ++
      Seq("", " ", "  ", "a", "a b", "a b c", " a b c ", "é ü ñ ø")).distinct

  test("native minhash signature == composable signature on random text") {
    val df = samples(300).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val narrow = Dedup.minhashSignatureNarrow(df, "doc_id", "text")
    val exploded = Dedup.minhashSignature(Dedup.shinglesRaw(df, "doc_id", "text"))
    assert(narrow.exceptAll(exploded).isEmpty && exploded.exceptAll(narrow).isEmpty)
  }

  test("native simhash == composable simhash on random text") {
    val df = samples(300).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val narrow = Dedup.simhashNarrow(df, "doc_id", "text")
    val exploded = Dedup.simhash(df, "doc_id", "text")
    assert(narrow.exceptAll(exploded).isEmpty && exploded.exceptAll(narrow).isEmpty)
  }

  test("native shingle jaccard == relational jaccard on random text pairs") {
    val texts = samples(40).filter(_.trim.split(" ").length >= 3)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").cache()
    val pairs = docs.select($"doc_id".as("id_a"))
      .crossJoin(docs.select($"doc_id".as("id_b")))
      .filter($"id_a" < $"id_b")
    val rel = Dedup.jaccardForPairs(pairs, Dedup.shingles(docs, "doc_id", "text"))
      .withColumnRenamed("jaccard", "jr")
    val nat = pairs
      .join(docs.select($"doc_id".as("id_a"), $"text".as("ta")), Seq("id_a"))
      .join(docs.select($"doc_id".as("id_b"), $"text".as("tb")), Seq("id_b"))
      .select($"id_a", $"id_b", ShingleJaccard($"ta", $"tb", 3).as("jn"))
    val cmp = rel.join(nat, Seq("id_a", "id_b"), "full_outer")
      .filter(coalesce($"jr", lit(0d)) =!= coalesce($"jn", lit(0d)))
    assert(cmp.isEmpty, cmp.limit(5).collect().mkString("\n"))
  }

  test("bpe_encode reconstruction invariant: symbols concatenate back to the word") {
    val rnd = new scala.util.Random(11)
    val words = (Iterator.continually(word.sample).flatten
      .filter(_.nonEmpty).take(200).toSeq ++
      Seq("llll", "ababab", "日本語日本", "aaaa", "xyzzy")).distinct
    // random single-char rules drawn from the words' own alphabet, so
    // merges genuinely fire
    val alphabet = words.flatMap(_.toSeq).distinct
    val rules = (0 until 12).map { _ =>
      s"${alphabet(rnd.nextInt(alphabet.size))} ${alphabet(rnd.nextInt(alphabet.size))}"
    }
    val out = words.toDF("w")
      .select($"w", BpeEncode($"w", typedLit(rules)).as("syms"))
      .as[(String, Seq[String])].collect()
    out.foreach { case (w, syms) =>
      assert(syms.mkString == w, s"'$w' -> $syms loses content")
      assert(syms.forall(_.nonEmpty), s"'$w' -> $syms has empty symbols")
    }
  }

  test("pq encode/adc agree with a scalar brute-force reference on random vectors") {
    val rnd = new scala.util.Random(23)
    val m = 4; val ks = 8; val dsub = 4; val dim = m * dsub
    val cb = Array.fill(m * ks)(Array.fill(dsub)(rnd.nextGaussian()))
    val vecs = (0 until 120).map(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian()))
    def l2(a: Array[Double], off: Int, w: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < w.length) { val d = a(off + i) - w(i); s += d * d; i += 1 }
      s
    }
    def refEncode(v: Array[Double]): Seq[Int] =
      (0 until m).map { mi =>
        (0 until ks).minBy(c => (l2(v, mi * dsub, cb(mi * ks + c)), c))
      }
    val cbLit = typedLit(cb.map(_.toSeq).toSeq)
    val got = vecs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")
      .select($"id", PqEncode($"v", cbLit, ks).as("codes"),
        PqAdc($"v", PqEncode($"v", cbLit, ks), cbLit, ks).as("adc"))
      .as[(Long, Seq[Int], Double)].collect().sortBy(_._1)
    got.foreach { case (id, codes, adc) =>
      val v = vecs(id.toInt)._2
      val exp = refEncode(v)
      assert(codes == exp, s"vec $id: $codes vs $exp")
      val expAdc = (0 until m).map(mi => l2(v, mi * dsub, cb(mi * ks + codes(mi)))).sum
      assert(math.abs(adc - expAdc) < 1e-12, s"vec $id adc $adc vs $expAdc")
    }
  }
  test("kernel cosine with precomputed norms == cosine_sim bit for bit, " +
    "and neither matches on a zero norm, a NULL element or a length mismatch") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.ops.Similarity.Widened
    val rnd = new scala.util.Random(29)
    def gen(n: Int): Seq[Double] = Seq.fill(n)(rnd.nextInt(4) match {
      case 0 => rnd.nextGaussian()
      case 1 => rnd.nextGaussian() * 1e-3
      case 2 => rnd.nextGaussian() * 1e4
      case _ => (rnd.nextInt(7) - 3).toDouble
    })
    val dims = Iterator.continually(1 + rnd.nextInt(70))
    val pairs = Seq.fill(300) { val n = dims.next(); (gen(n), gen(n)) } ++ Seq(
      (gen(5), Seq.fill(5)(0.0)), // zero norm
      (Seq.fill(3)(0.0), Seq.fill(3)(0.0)),
      (gen(6), gen(6).updated(4, Double.NaN)), // NaN is a value, not a NULL
      (gen(6), gen(7)), // length mismatch
      (gen(1), gen(0)))
    for (elem <- Seq[DataType](FloatType, DoubleType)) {
      def box(v: Seq[Double]): Seq[Any] =
        if (elem == FloatType) v.map(x => Float.box(x.toFloat)) else v.map(Double.box)
      val withNull = pairs.take(20).map { case (a, b) => (box(a), box(b).updated(0, null)) }
      val rows = (pairs.map { case (a, b) => (box(a), box(b)) } ++ withNull)
        .zipWithIndex.map { case ((a, b), i) => Row(i.toLong, a, b) }
      val arr = ArrayType(elem, containsNull = true)
      val schema = StructType(Seq(StructField("i", LongType),
        StructField("a", arr), StructField("b", arr)))
      val got = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
        .select($"i", $"a", $"b", CosineSimilarity($"a", $"b").as("sim"))
        .collect()
      assert(got.length == rows.length)
      got.foreach { r =>
        val (wa, wb) = (Widened(r.get(1)), Widened(r.get(2)))
        if (r.isNullAt(3)) assert(!wa.comparable(wb), s"row ${r.getLong(0)}: kernel matches, cosine_sim is NULL")
        else {
          assert(wa.comparable(wb), s"row ${r.getLong(0)}: cosine_sim ${r.getDouble(3)}, kernel no match")
          assert(java.lang.Double.doubleToLongBits(wa.cosine(wb)) ==
            java.lang.Double.doubleToLongBits(r.getDouble(3)),
            s"row ${r.getLong(0)} ($elem): ${wa.cosine(wb)} vs ${r.getDouble(3)}")
        }
      }
      // the no-match cases all appeared: zero norm, NULL element, length mismatch
      assert(got.count(_.isNullAt(3)) >= 2 + 20 + 2)
    }
  }

  test("set-sim merge overlap with early exit == Set intersection size whenever the " +
    "threshold is reachable, and below it otherwise") {
    val rnd = new scala.util.Random(31)
    def draw(n: Int, from: Array[Long]): Array[Long] =
      rnd.shuffle(from.toSeq).take(n).toArray.sorted
    val pairs = Seq.fill(600) {
      val universe = Array.fill(rnd.nextInt(400) + 1)(rnd.nextLong() >> rnd.nextInt(60)).distinct
      val a = draw(rnd.nextInt(201), universe)
      rnd.nextInt(3) match {
        case 0 => (a, draw(rnd.nextInt(201), universe)) // random
        case 1 => (a, (a.filter(_ => rnd.nextInt(10) > 0) ++ // heavy overlap
          draw(rnd.nextInt(20), universe)).distinct.sorted)
        case _ => (a, draw(rnd.nextInt(201), universe.filterNot(a.toSet))) // disjoint
      }
    } ++ Seq((Array.empty[Long], Array.empty[Long]), (Array(1L), Array.empty[Long]),
      (Array(Long.MinValue, 0L, Long.MaxValue), Array(Long.MinValue, Long.MaxValue)))
    var reached = 0
    for ((a, b) <- pairs) {
      val i0 = rnd.nextInt(a.length + 1)
      val j0 = rnd.nextInt(b.length + 1)
      val have = rnd.nextInt(3)
      for ((from, to, base) <- Seq((0, 0, 0), (i0, j0, have))) {
        val want = base + (a.drop(from).toSet & b.drop(to).toSet).size
        val needs = Seq(0, 1, want - 1, want, want + 1, rnd.nextInt(math.min(a.length, b.length) + 2))
        for (need <- needs.filter(_ >= 0)) {
          val got = Dedup.setSimOverlap(a, from, b, to, base, need)
          if (want >= need) { assert(got == want, s"need $need: $got vs $want"); reached += 1 }
          else assert(got < need, s"need $need: reported $got, true overlap $want")
        }
      }
    }
    assert(reached > 1000 && pairs.count { case (a, b) => a.intersect(b).length > 50 } > 20)
  }
}
