package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}

/** Differential test of the cell-local block → verify operator behind
  * `Similarity.semanticDedup` and `Similarity.nearDupPairs`: on the test
  * embeddings and on degenerate fixtures, each must return the rows and
  * the `CapReport` of the within-block self-join chain it replaced,
  * which is kept here as the reference.
  */
class BlockVerifySpec extends SparkSpec {

  private val Disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  // ---- references: the capByKey → self-join → cosine chains ------------

  private def semanticDedupJoin(vectors: DataFrame, idCol: String, vecCol: String,
                                centroids: Array[(Long, Array[Double])], threshold: Double,
                                maxCell: Int): DataFrame = {
    val assignedAll = Similarity.ivfAssign(vectors, idCol, vecCol, centroids)
      .select(col(idCol).as("__sid"), col(vecCol).as("__sv"), col("__cell"))
      .persist(Disk)
    val (assigned, counts, recordCap) = Dedup.capByKey(
      assignedAll, Seq("__cell"), maxCell, "semantic_dedup")
    val a = assigned.select(col("__cell"), col("__sid").as("id_a"), col("__sv").as("v_a"))
    val b = assigned.select(col("__cell"), col("__sid").as("id_b"), col("__sv").as("v_b"))
    val losers = a.join(b, Seq("__cell"))
      .filter(col("id_a") < col("id_b") &&
        Similarity.cosine(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_b").as("__sid")).distinct()
    val result = assignedAll.join(losers, Seq("__sid"), "left_anti")
      .select(col("__sid").as("id"), col("__cell").as("cell"))
    Dedup.eagerlyWith(result, recordCap, Seq(assignedAll) ++ counts: _*)
  }

  private def nearDupPairsJoin(vectors: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, nPlanes: Int, dim: Int,
                               maxBucket: Int): DataFrame = {
    val planes = Similarity.hyperplanes(nPlanes, dim)
    val withBucketAll = vectors
      .select(col(idCol).as("__nid"), col(vecCol).as("__nv"))
      .withColumn("__bucket", Similarity.lshBucket(col("__nv"), planes))
      .persist(Disk)
    val (withBucket, counts, recordCap) = Dedup.capByKey(
      withBucketAll, Seq("__bucket"), maxBucket, "embed_neardup")
    val a = withBucket.select(col("__bucket"), col("__nid").as("id_a"), col("__nv").as("v_a"))
    val b = withBucket.select(col("__bucket"), col("__nid").as("id_b"), col("__nv").as("v_b"))
    val result = a.join(b, Seq("__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("v_a"), col("v_b")).as("sim"))
      .filter(col("sim") >= threshold)
    Dedup.eagerlyWith(result, recordCap, Seq(withBucketAll) ++ counts: _*)
  }

  /** Rows (as a sorted multiset; a double prints every bit that tells it
    * apart) and the cap report of one run.
    */
  private def run(pipeline: String)(f: => DataFrame): (Seq[String], CapReport) = {
    CapMetrics.clear()
    val df = f
    val rows = df.collect().map(_.toString).sorted.toSeq
    df.unpersist()
    (rows, CapMetrics.get(pipeline).get)
  }

  private def sameDedup(vectors: DataFrame, centroids: Array[(Long, Array[Double])],
                        threshold: Double, maxCell: Int = Dedup.DefaultMaxBucket,
                        minLosers: Int = 1): Unit = {
    val (want, wantCap) = run("semantic_dedup")(semanticDedupJoin(
      vectors, "vec_id", "embedding", centroids, threshold, maxCell))
    val (got, gotCap) = run("semantic_dedup")(Similarity.semanticDedup(
      vectors, "vec_id", "embedding", centroids, threshold, maxCell))
    assert(got == want, s"kept rows differ:\n${got.diff(want)}\nvs\n${want.diff(got)}")
    assert(gotCap == wantCap)
    // a fixture that drops nothing would not exercise the kernel
    assert(vectors.count() - want.size >= minLosers, s"${want.size} kept")
  }

  private def samePairs(vectors: DataFrame, threshold: Double, nPlanes: Int, dim: Int,
                        maxBucket: Int = Dedup.DefaultMaxBucket): Unit = {
    val (want, wantCap) = run("embed_neardup")(nearDupPairsJoin(
      vectors, "vec_id", "embedding", threshold, nPlanes, dim, maxBucket))
    val (got, gotCap) = run("embed_neardup")(Similarity.nearDupPairs(
      vectors, "vec_id", "embedding", threshold, nPlanes, dim, maxBucket))
    assert(got == want, s"pairs differ:\n${got.diff(want)}\nvs\n${want.diff(got)}")
    assert(gotCap == wantCap)
    assert(want.nonEmpty, "a fixture without pairs would not exercise the kernel")
  }

  // ---- fixtures ----------------------------------------------------------

  private val Dim = 8
  private val Schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true))))

  private def frame(rows: Seq[(java.lang.Long, Seq[java.lang.Float])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }, 3), Schema)

  /** 60 vectors around four directions (cluster 0 holds 30 of them), so
    * every cell has near-duplicates at 0.95 and one cell is the largest.
    */
  private val base: Seq[(java.lang.Long, Seq[java.lang.Float])] = {
    val rnd = new scala.util.Random(7)
    val dirs = Array.fill(4)(Array.fill(Dim)(rnd.nextGaussian()))
    (1 to 60).map { i =>
      val c = if (i <= 30) 0 else 1 + i % 3
      val v = dirs(c).map(x => (x + 0.15 * rnd.nextGaussian()).toFloat)
      (Long.box(i.toLong), v.toSeq.map(Float.box))
    }
  }

  private val edges: Map[String, Seq[(java.lang.Long, Seq[java.lang.Float])]] = Map(
    "duplicated identical rows" -> (base.take(6) ++ base.slice(30, 32)),
    "a null id" -> Seq((null, base(3)._2), (null, base(3)._2)),
    "an all-zero vector" -> Seq((Long.box(100L), Seq.fill(Dim)(Float.box(0f)))),
    "a null element" -> Seq((Long.box(101L), base(4)._2.updated(2, null)),
      (Long.box(102L), base(4)._2.updated(2, null))),
    "a shorter vector" -> Seq((Long.box(103L), base(5)._2.take(Dim - 1)),
      (Long.box(104L), base(5)._2.take(Dim - 1))))

  private def fixture(edge: String*): DataFrame = frame(base ++ edge.flatMap(edges))

  /** One member of each direction: cluster 0's cell is the largest. */
  private val cents: Array[(Long, Array[Double])] =
    Array(1, 31, 32, 33).map(i => (i.toLong, base(i - 1)._2.map(_.toDouble).toArray))

  // ---- semanticDedup -------------------------------------------------------

  for (dir <- Seq(sf, new java.io.File(sf).getParent + "/sf0.01"))
    test(s"semanticDedup == join chain on ${new java.io.File(dir).getName} embeddings") {
      val emb = Tables.embeddings(spark, dir)
      sameDedup(emb, Similarity.ivfCentroids(emb, "vec_id", "embedding", 8), 0.3)
    }

  for (edge <- edges.keys.toSeq.sorted)
    test(s"semanticDedup == join chain with $edge") {
      sameDedup(fixture(edge), cents, 0.95)
    }

  test("semanticDedup == join chain with every degenerate row at once") {
    sameDedup(fixture(edges.keys.toSeq: _*), cents, 0.95)
  }

  test("semanticDedup == join chain with empty centroids (every cell NULL)") {
    val df = fixture(edges.keys.toSeq: _*)
    sameDedup(df, Array.empty, 0.95, minLosers = 0)
    // the NULL cell is one bucket for the cap
    sameDedup(df, Array.empty, 0.95, maxCell = 10, minLosers = 0)
    assert(CapMetrics.get("semantic_dedup").get ==
      CapReport("semantic_dedup", 10, 1L, df.count()))
  }

  test("semanticDedup == join chain with one cell over maxCell") {
    val df = fixture(edges.keys.toSeq: _*)
    val sizes = Similarity.ivfAssign(df, "vec_id", "embedding", cents)
      .groupBy("__cell").count().collect().map(_.getLong(1)).sorted.reverse
    val maxCell = (sizes(1) + sizes(0)).toInt / 2
    assert(sizes(0) > maxCell && sizes(1) <= maxCell, sizes.mkString(","))
    sameDedup(df, cents, 0.95, maxCell)
    val r = CapMetrics.get("semantic_dedup").get
    assert(r.droppedBuckets == 1L && r.droppedRows == sizes(0), r.toString)
  }

  // ---- nearDupPairs --------------------------------------------------------

  for (dir <- Seq(sf, new java.io.File(sf).getParent + "/sf0.01"))
    test(s"nearDupPairs == join chain on ${new java.io.File(dir).getName} embeddings") {
      samePairs(Tables.embeddings(spark, dir), 0.3, nPlanes = 4, dim = 64)
    }

  test("nearDupPairs == join chain with duplicated rows, NULL ids, zero " +
    "vectors and NULL elements") {
    // a shorter vector has no sign-LSH bucket (lshBucket raises), so it
    // is left out here
    val df = fixture(edges.keys.filterNot(_ == "a shorter vector").toSeq: _*)
    samePairs(df, 0.95, nPlanes = 3, dim = Dim)
  }

  test("nearDupPairs == join chain with one bucket over maxBucket") {
    val df = fixture("duplicated identical rows", "a null id")
    val sizes = df.select(Similarity.lshBucket(col("embedding"),
        Similarity.hyperplanes(3, Dim)).as("b"))
      .groupBy("b").count().collect().map(_.getLong(1)).sorted.reverse
    val maxBucket = (sizes(1) + sizes(0)).toInt / 2
    assert(sizes(0) > maxBucket && sizes(1) <= maxBucket, sizes.mkString(","))
    samePairs(df, 0.95, nPlanes = 3, dim = Dim, maxBucket)
    val r = CapMetrics.get("embed_neardup").get
    assert(r.droppedBuckets == 1L && r.droppedRows == sizes(0), r.toString)
  }
}
