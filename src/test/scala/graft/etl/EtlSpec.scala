package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

class EtlSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  /** Every `Refresh` writer that takes a frame of (id, payload, part). */
  private val writers = Seq[(String, (org.apache.spark.sql.DataFrame, String) => Long)](
    "overwrite" -> ((df, p) => Refresh.overwrite(df, p)),
    "overwrite_partitioned" -> ((df, p) => Refresh.overwrite(df, p, Seq("part"))),
    "overwriteStaged" -> ((df, p) => Refresh.overwriteStaged(df, p)),
    "overwriteStaged_partitioned" -> ((df, p) => Refresh.overwriteStaged(df, p, Seq("part"))),
    "overwritePartitions" -> ((df, p) => Refresh.overwritePartitions(df, p, Seq("part"))),
    "overwriteSorted" -> ((df, p) => Refresh.overwriteSorted(df, p, Seq("id"))))

  test("an empty write leaves a READABLE empty extract, partitioned or not") {
    // a parquet write of zero rows emits no data files — a schemaless
    // reader of the extract then dies with UNABLE_TO_INFER_SCHEMA. The
    // first dead tenant / truncated source must read as an EMPTY TABLE
    // of the right shape (DegenerateSweep's empty mode found this on
    // every write-then-read query). ensureReadable backs every Refresh
    // writer.
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String)].toDF("id", "payload", "part")
    for ((name, write) <- writers) {
      val path = java.nio.file.Files.createTempDirectory(s"empty_$name").toString + "/extract"
      assert(write(empty, path) == 0L, s"$name: an empty write counted rows")
      val back = spark.read.parquet(path) // schemaless — must infer
      assert(back.count() == 0, s"$name: expected empty extract")
      assert(back.columns.toSeq == Seq("id", "payload", "part"),
        s"$name: schema lost on empty write: ${back.columns.toSeq}")
    }
    // and a NON-empty write stays marker-free (no extra empty file)
    val path2 = java.nio.file.Files.createTempDirectory("nonempty").toString + "/e"
    Refresh.overwrite(Seq((1L, "a", "x")).toDF("id", "payload", "part"), path2, Seq("part"))
    assert(spark.read.parquet(path2).count() == 1)
  }

  test("every Refresh writer returns the rows it wrote, as a read-back counts them") {
    // the count is observed on the frame being written, never read back;
    // this pins it to what a reader of the committed extract counts,
    // on rows (with a NULL partition value), on frames that are empty
    // before and after optimization, partitioned or not, and through
    // incremental's merge with tombstones
    import spark.implicits._
    val rows = (1L to 60L).map(i => (i, s"p$i", if (i % 7 == 0) null else s"x${i % 3}"))
      .toDF("id", "payload", "part")
    val frames = Seq(
      "rows" -> rows,
      "empty_local" -> Seq.empty[(Long, String, String)].toDF("id", "payload", "part"),
      "empty_filtered" -> rows.where($"id" < 0))
    def check(what: String, path: String)(write: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = write
      val s = (System.nanoTime() - t0) / 1e9
      // a write whose observation never completed would wait out the
      // fallback bound before counting again
      assert(s < 30, s"$what: took $s s — the observed count did not arrive")
      assert(n == spark.read.parquet(path).count(), s"$what: returned $n")
    }
    val compacted = ("compact", (df: org.apache.spark.sql.DataFrame, p: String) => {
      Refresh.overwrite(df.repartition(4), p)
      Refresh.compact(spark, p)
    })
    val incremental = ("incremental",
      (df: org.apache.spark.sql.DataFrame, p: String) => Refresh.incremental(spark, df, p, Seq("id")))
    for ((frame, df) <- frames; (name, write) <- writers :+ compacted :+ incremental) {
      val path = java.nio.file.Files.createTempDirectory(s"count_$name").toString + "/extract"
      check(s"$name on $frame", path)(write(df, path))
    }
    val zPath = java.nio.file.Files.createTempDirectory("count_z").toString + "/extract"
    check("overwriteZOrdered on rows", zPath)(Refresh.overwriteZOrdered(rows, zPath, Seq("id"), 4))
    // incremental with tombstones: a merge that updates, inserts and deletes
    val path = java.nio.file.Files.createTempDirectory("count_tomb").toString + "/extract"
    Refresh.incremental(spark, rows, path, Seq("id"))
    val delta = (55L to 70L).map(i => (i, s"q$i", "y")).toDF("id", "payload", "part")
    val tombs = (1L to 20L).map(Tuple1(_)).toDF("id")
    check("incremental with tombstones", path)(
      Refresh.incremental(spark, delta, path, Seq("id"), Some(tombs)))
    assert(spark.read.parquet(path).count() == 50L) // 60 + 10 new - 20 deleted
  }

  test("incremental refresh merges delta by key: updates win, inserts append") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("incr").toString + "/extract"
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "v")
    assert(Refresh.incremental(spark, base, path, Seq("id")) == 2L)
    val delta = Seq((2L, "b2", 25.0), (3L, "c", 30.0)).toDF("id", "name", "v")
    assert(Refresh.incremental(spark, delta, path, Seq("id")) == 3L)
    val got = spark.read.parquet(path).as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "b2", 25.0), (3L, "c", 30.0)))
  }

  test("incremental recovers a half-finished swap instead of rebuilding from the delta") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("halfswap").toString + "/extract"
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    Refresh.incremental(spark, base, path, Seq("id"))
    // simulate a crash between swapInto's two renames: the extract lives
    // only at __old, target is missing
    val (fs, target) = Refresh.hfs(spark, path)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    assert(fs.rename(target, old))
    // the next tick must RECOVER the old copy and merge against it —
    // without recovery it would treat the extract as absent, keep only
    // the delta, and then destroy the __old copy
    val delta = Seq((3L, "c")).toDF("id", "name")
    Refresh.incremental(spark, delta, path, Seq("id"))
    val got = spark.read.parquet(path).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")), s"history lost: $got")
    assert(!fs.exists(old))
  }

  test("incremental refresh absorbs schema drift: added column null-fills old rows") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("incr_ev").toString + "/extract"
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    assert(Refresh.incremental(spark, base, path, Seq("id")) == 2L)
    // next sync's source grew a column (and drops nothing)
    val delta = Seq((2L, "b2", 25.0), (3L, "c", 30.0)).toDF("id", "name", "score")
    assert(Refresh.incremental(spark, delta, path, Seq("id")) == 3L)
    val got = spark.read.parquet(path).select("id", "name", "score")
      .as[(Long, String, Option[Double])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", None), (2L, "b2", Some(25.0)), (3L, "c", Some(30.0))))
    // a later sync from a source that DROPPED the column still merges
    val shrunk = Seq((4L, "d")).toDF("id", "name")
    assert(Refresh.incremental(spark, shrunk, path, Seq("id")) == 4L)
    assert(spark.read.parquet(path).filter($"id" === 4L)
      .select("score").as[Option[Double]].head().isEmpty)
  }

  test("incremental refresh applies tombstone deletes, and delete wins over upsert") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("incr_del").toString + "/extract"
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    assert(Refresh.incremental(spark, base, path, Seq("id")) == 3L)
    val delta = Seq((2L, "b2"), (4L, "d")).toDF("id", "name")
    val tombs = Seq(Tuple1(3L), Tuple1(2L)).toDF("id")
    // 2 is both updated and tombstoned — the delete clause wins the tick
    assert(Refresh.incremental(spark, delta, path, Seq("id"), Some(tombs)) == 2L)
    val got = spark.read.parquet(path).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (4L, "d")))
  }

  test("compact preserves a hive-partitioned layout, compacting within partitions") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("cpt_part").toString + "/extract"
    val df = (1L to 300L).map(i => (i, i % 3)).toDF("id", "bucket")
    // accrete many small files per partition, as incremental ticks would
    df.repartition(20).write.partitionBy("bucket").parquet(path)
    def partFiles(b: Long) = new java.io.File(s"$path/bucket=$b").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert((0L to 2L).forall(partFiles(_) >= 10))
    assert(Refresh.compact(spark, path, targetFileBytes = 1L << 30) == 300L)
    // layout preserved, one file per partition at this target size
    (0L to 2L).foreach(b => assert(partFiles(b) == 1,
      s"bucket=$b has ${partFiles(b)} files"))
    val got = spark.read.parquet(path).as[(Long, Long)].collect().toSeq
    assert(got.map(_._1).sorted == (1L to 300L) && got.forall(r => r._1 % 3 == r._2))
  }

  test("z-order keeps every clustering column file-skippable; 1-D sort only the first") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf)
      .select("event_id", "user_id", "value")
    val base = java.nio.file.Files.createTempDirectory("zord").toString
    val zPath = base + "/z"
    val sPath = base + "/s"
    assert(Refresh.overwriteZOrdered(ev, zPath, Seq("user_id", "value"),
      numFiles = 16) == ev.count())
    Refresh.overwriteSorted(ev, sPath, Seq("user_id"), numFiles = 16)
    // how many files a point predicate on `c` would have to read, judged
    // exactly as parquet min/max skipping does
    def filesContaining(path: String, c: String, v: Double): Long =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min(col(c).cast("double")).as("mn"), max(col(c).cast("double")).as("mx"))
        .filter(col("mn") <= v && col("mx") >= v).count()
    val vMid = ev.stat.approxQuantile("value", Array(0.5), 0.01).head
    val uMid = ev.stat.approxQuantile("user_id", Array(0.5), 0.01).head
    // second dimension: the 1-D sort leaves `value` full-width in every
    // file; z-order confines it to a fraction of the files
    val zV = filesContaining(zPath, "value", vMid)
    val sV = filesContaining(sPath, "value", vMid)
    assert(zV * 2 <= sV, s"z-order files=$zV vs sorted files=$sV for value predicate")
    // first dimension stays skippable under z-order too
    val zU = filesContaining(zPath, "user_id", uMid)
    assert(zU < 16, s"user_id predicate reads all $zU files")
  }

  test("compact coalesces a many-file extract without losing rows") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("cpt").toString + "/extract"
    val df = (1L to 1000L).toDF("id")
    df.repartition(50).write.parquet(path)
    val filesBefore = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesBefore >= 40)
    assert(Refresh.compact(spark, path, targetFileBytes = 1L << 30) == 1000L)
    val filesAfter = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesAfter == 1, s"expected 1 compacted file, got $filesAfter")
    assert(spark.read.parquet(path).as[Long].collect().sorted.toSeq ==
      (1L to 1000L).toSeq)
  }

  test("overwriteSorted yields disjoint per-file key ranges (skippable files)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("srt").toString + "/extract"
    val df = (1L to 10000L).map(i => (i * 2654435761L % 10000L, i)).toDF("k", "v")
    assert(Refresh.overwriteSorted(df, path, Seq("k"), numFiles = 4) == 10000L)
    // per-file min/max must not overlap across files
    val ranges = spark.read.parquet(path)
      .select(input_file_name().as("f"), $"k")
      .groupBy("f").agg(min("k").as("lo"), max("k").as("hi"))
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(ranges.length == 4)
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._2, s"file ranges overlap: $a vs $b")
    }
    // a selective filter prunes to a subset of files via footer stats
    val pruned = spark.read.parquet(path).filter($"k" < 100)
      .select(input_file_name()).distinct().count()
    assert(pruned == 1, s"selective read touched $pruned files")
  }

  test("TypePolicy collapses every type to {Long, Double, String}") {
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("sh", ShortType), StructField("f", FloatType),
      StructField("dbl", DoubleType), StructField("dec", DecimalType(10, 2)),
      StructField("b", BooleanType), StructField("s", StringType),
      StructField("dt", DateType), StructField("ts", TimestampType)))
    val df = spark.createDataFrame(
      List(Row(1, 2L, 3.toShort, 4.5f, 6.7, new java.math.BigDecimal("8.90"),
        true, "x", java.sql.Date.valueOf("2024-01-02"),
        java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))).asJava, schema)
    val out = TypePolicy(df)
    val types = out.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("i") == LongType && types("l") == LongType && types("sh") == LongType)
    assert(types("f") == DoubleType && types("dbl") == DoubleType && types("dec") == DoubleType)
    assert(types("b") == StringType && types("s") == StringType)
    assert(types("dt") == StringType && types("ts") == StringType)
    assert(out.schema.fields.forall(f =>
      Set[DataType](LongType, DoubleType, StringType).contains(f.dataType)))
  }

  test("TypePolicy.collapse is total and idempotent (property)") {
    val candidates = Seq[DataType](ByteType, ShortType, IntegerType, LongType,
      FloatType, DoubleType, DecimalType(38, 4), BooleanType, StringType,
      DateType, TimestampType, BinaryType, ArrayType(IntegerType),
      MapType(StringType, LongType), StructType(Seq(StructField("x", IntegerType))))
    val prop = org.scalacheck.Prop.forAll(org.scalacheck.Gen.oneOf(candidates)) { dt =>
      val once = TypePolicy.collapse(dt)
      Set[DataType](LongType, DoubleType, StringType).contains(once) &&
        TypePolicy.collapse(once) == once
    }
    assert(org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default, prop).passed)
  }

  test("null sentinels n/a and empty string become null, others survive") {
    import spark.implicits._
    val df = Seq("n/a", "", "ok", "N/A", " ").toDF("v")
    val out = Ingest.normalizeNulls(df).as[Option[String]].collect().toSeq
    assert(out == Seq(None, None, Some("ok"), Some("N/A"), Some(" ")))
  }

  test("readCsv infers, null-normalizes, and collapses types") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "in.csv")
    java.nio.file.Files.writeString(f.toPath,
      "name,age,income,flag\nVillage A,34,1200.5,true\nVillage B,n/a,,false\n")
    val out = Ingest.readCsv(spark, f.getAbsolutePath)
    val types = out.schema.fields.map(x => x.name -> x.dataType).toMap
    assert(types("name") == StringType)
    assert(types("age") == LongType)
    assert(types("income") == DoubleType)
    assert(types("flag") == StringType) // bool collapses to text, as pandas-kind 'b' does
    val rows = out.orderBy("name").collect()
    assert(rows(1).isNullAt(out.columns.indexOf("age")))
    assert(rows(1).isNullAt(out.columns.indexOf("income")))
  }

  test("Profile.numeric handles hostile column names (no string-built SQL)") {
    import spark.implicits._
    val df = Seq((1.0, 2.0), (3.0, 4.0)).toDF("it's", "back`tick")
    val out = Profile.numeric(df, Seq("it's", "back`tick"))
      .orderBy("col")
      .select("col", "n", "n_nonnull", "min_v", "max_v", "n_distinct")
      .as[(String, Long, Long, Double, Double, Long)].collect().toSeq
    assert(out == Seq(("back`tick", 2L, 2L, 2.0, 4.0, 2L),
      ("it's", 2L, 2L, 1.0, 3.0, 2L)))
  }

  test("S4: DDL registers an extract as a catalog table addressable by SQL") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("ddl").toString + "/extract"
    Refresh.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), path)
    Ddl.createDatabase(spark, "graft_meta")
    Ddl.registerExtract(spark, "graft_meta.ext", path)
    assert(spark.catalog.tableExists("graft_meta.ext"))
    assert(spark.sql("SELECT count(*) FROM graft_meta.ext").head().getLong(0) == 2L)
    Ddl.dropTable(spark, "graft_meta.ext")
    assert(!spark.catalog.tableExists("graft_meta.ext"))
    // external table: dropping the pointer never deletes the extract
    assert(spark.read.parquet(path).count() == 2L)
  }

  test("Ddl.registerExtract escapes hostile paths and identifiers") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ddl_q").toString
    val path = base + "/o'brien extract"
    Refresh.overwrite(Seq((1L, "x")).toDF("id", "v"), path)
    Ddl.createDatabase(spark, "graft_meta")
    Ddl.registerExtract(spark, "graft_meta.quoted_ext", path)
    assert(spark.sql("SELECT count(*) FROM graft_meta.quoted_ext").head().getLong(0) == 1L)
    Ddl.dropTable(spark, "graft_meta.quoted_ext")
  }

  test("full refresh overwrites and returns count") {
    import spark.implicits._
    val p = s"${sys.props("java.io.tmpdir")}/graft_test_refresh"
    assert(Refresh.overwrite(Seq(1, 2, 3).toDF("x"), p) == 3L)
    // second refresh fully replaces, not appends
    assert(Refresh.overwrite(Seq(4, 5).toDF("x"), p) == 2L)
  }

  test("dynamic partition overwrite replaces only the partitions in the delta") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("dynpart").toString + "/extract"
    val full = Seq(("en", 1L, "a"), ("en", 2L, "b"), ("es", 3L, "c"), ("zh", 4L, "d"))
      .toDF("lang", "id", "v")
    assert(Refresh.overwritePartitions(full, path, Seq("lang")) == 4L)
    val esFilesBefore = new java.io.File(s"$path/lang=es").listFiles().map(_.getName).toSet

    // re-crawl of ONE language: only lang=en partition is replaced
    val delta = Seq(("en", 9L, "A2")).toDF("lang", "id", "v")
    Refresh.overwritePartitions(delta, path, Seq("lang"))
    val after = spark.read.parquet(path)
    assert(after.count() == 3L) // en collapsed to 1 row; es + zh untouched
    assert(after.filter($"lang" === "en").select($"id").as[Long].collect().toSeq == Seq(9L))
    assert(after.filter($"lang" === "es").count() == 1L &&
      after.filter($"lang" === "zh").count() == 1L)
    // untouched partitions keep their ORIGINAL files (no rewrite happened)
    val esFilesAfter = new java.io.File(s"$path/lang=es").listFiles().map(_.getName).toSet
    assert(esFilesAfter == esFilesBefore)
  }
}
