package perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Seeded inputs. Everything here is a pure function of the seed: the
  * survey-style CSV exports for `sync_refresh` and the TPC-H-ish star
  * schema (plus events, documents, embeddings) the query workloads read.
  */
object Gen {

  /** Modulus of the extract checksums (see [[extractSum]]). */
  val P: Long = 1000000007L

  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x632BE59BD9B4E019L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---- checksums ----------------------------------------------------------
  // An extract's checksum is (rows, Σ pmod(xxhash64(row), P)), with each
  // row hashed over its columns in name order exactly as Spark's
  // multi-column `xxhash64` hashes the collapsed {long, double, string}
  // values (seed 42, each non-null value re-seeding the next), so the
  // generator and one Spark aggregate over the committed extract must agree
  // bit for bit.

  /** Spark's xxhash64 step for one collapsed value. */
  def hashStep(v: Any, seed: Long): Long = v match {
    case l: Long   => XXH64.hashLong(l, seed)
    case d: Double => XXH64.hashLong(java.lang.Double.doubleToLongBits(if (d == -0.0d) 0.0d else d), seed)
    case s: String =>
      val u = UTF8String.fromString(s)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)
  }

  /** The Spark side of an extract checksum: (rows, row-hash sum). */
  def extractSum(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(cols.toIndexedSeq: _*), lit(P))), lit(0L))).head()
    (r.getLong(0), Math.floorMod(r.getLong(1), P))
  }

  // ---- survey exports -----------------------------------------------------

  sealed abstract class Kind(val collapsed: String)
  case object IdK extends Kind("long")       // _id, the merge key, never null
  case object IntK extends Kind("long")
  case object DecK extends Kind("double")
  case object TextK extends Kind("string")
  case object DateK extends Kind("string")
  case object BoolK extends Kind("string")
  case object StampK extends Kind("string")  // _submission_time
  case object UuidK extends Kind("string")

  final case class Col(name: String, kind: Kind)
  final case class Form(idx: Int, fileId: Long, formId: Long, cols: Seq[Col], rows: Int) {
    /** The column an export of version `v` gains (versions 2 and 3). */
    def colsAt(v: Int): Seq[Col] = if (v >= 2) cols :+ Col("meta/added", IntK) else cols
  }

  /** 1024 made-up content words: two syllables each, letters only. */
  private val Vocab: Array[String] = {
    val syl = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    Array.tabulate(1024)(i => syl(i % syl.length) + syl(i / syl.length))
  }

  private val Words = Array("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "a", "the", "line", "sort",
    "window", "order", "data", "column", "join", "small", "customer", "query",
    "big", "stream", "filter", "group", "vector")

  /** The fixed set of catalog forms. Form 0 is the one large export
    * (~10^5 rows); the others span 10^3..10^4 rows log-uniformly, and
    * column counts span 20..120. Sizes and the mix of column kinds are
    * the same for every seed (rows within ±0.5 %), and so are the shares
    * of the three header styles; the seed picks which column gets which
    * kind and style, and every value, so every seed does the same amount
    * of work.
    */
  def forms(seed: Long, n: Int): Seq[Form] = (0 until n).map { i =>
    val r = new SplittableRandom(mix(seed, 1, i))
    val nCols = 20 + (100 * i) / math.max(1, n - 1)
    val rowsNominal =
      if (i == 0) 100000.0
      else 1000.0 * math.pow(10.0, ((i * 3) % math.max(1, n - 1)).toDouble / math.max(1, n - 2))
    val rows = (rowsNominal * (0.995 + 0.01 * r.nextDouble())).toInt
    val sys = Seq(Col("_id", IdK), Col("_uuid", UuidK),
      Col("_submission_time", StampK), Col("_index", IntK))
    val kinds = Array[Kind](IntK, DecK, TextK, DateK, BoolK, IntK, TextK)
    val body = (0 until nCols - sys.length).map(j => j -> kinds(j % kinds.length))
    // a seeded shuffle of which column carries which kind
    val shuffled = new scala.util.Random(r.nextLong()).shuffle(body.map(_._2))
    val rot = r.nextInt(3)
    val named = shuffled.zipWithIndex.map { case (k, j) =>
      val name = (j + rot) % 3 match {
        case 0 => s"grp${j % 7}/q$j"                 // XLSForm group/question
        case 1 => s"section${j % 5}/sub${j % 3}/q$j"  // nested groups
        case _ => s"choices.opt$j"                   // dotted select-multiple split
      }
      Col(name, k)
    }
    Form(i, fileId = i + 1L, formId = 1000L + i, cols = sys ++ named, rows = rows)
  }

  private val Dates: Array[String] =
    Array.tabulate(1800)(d => java.time.LocalDate.of(2020, 1, 1).plusDays(d.toLong).toString)

  private def two(sb: java.lang.StringBuilder, n: Int): Unit = { if (n < 10) sb.append('0'); sb.append(n) }

  /** One cell as written to the CSV and as it reads back after the
    * program's null policy and type collapse (None = null).
    */
  private def cell(k: Kind, rowId: Long, r: SplittableRandom): (String, Option[Any]) = {
    val nullRoll = r.nextInt(100)
    if (k != IdK && k != UuidK && nullRoll < 5)
      return (if (nullRoll < 3) "n/a" else "", None)
    k match {
      case IdK    => (rowId.toString, Some(rowId))
      case IntK   => val v = r.nextInt(20000).toLong - 1000; (v.toString, Some(v))
      case DecK   =>
        val cents = r.nextInt(10000000)
        val sb = new java.lang.StringBuilder().append(cents / 100).append('.')
        two(sb, cents % 100)
        val s = sb.toString
        (s, Some(s.toDouble))
      case TextK  =>
        val sb = new java.lang.StringBuilder(Words(r.nextInt(Words.length)))
        (0 until r.nextInt(4)).foreach(_ => sb.append(' ').append(Words(r.nextInt(Words.length))))
        val s = sb.toString
        (s, Some(s))
      case DateK  => val d = Dates(r.nextInt(Dates.length)); (d, Some(d))
      case BoolK  => val b = if (r.nextBoolean()) "true" else "false"; (b, Some(b))
      case StampK =>
        // read back as a timestamp, whose string form has a space for the T
        val secs = r.nextInt(86400)
        val sb = new java.lang.StringBuilder(Dates(r.nextInt(Dates.length))).append('T')
        two(sb, secs / 3600); sb.append(':'); two(sb, secs / 60 % 60); sb.append(':'); two(sb, secs % 60)
        val s = sb.toString
        (s, Some(s.replace('T', ' ')))
      case UuidK  =>
        val h = java.lang.Long.toHexString(r.nextLong() & 0xFFFFFFFFFFFFL)
        val s = "uuid-" + "0" * (12 - h.length) + h
        (s, Some(s))
    }
  }

  /** The extract a sync must leave: rows, column kinds, row-hash sum. */
  final case class Expected(rows: Long, kinds: Map[String, String], sum: Long)

  private final class Acc(cols: Seq[Col]) {
    private val order = cols.indices.sortBy(i => cols(i).name).toArray
    var rows = 0L
    var sum = 0L
    def add(cells: Seq[(String, Option[Any])]): Unit = {
      var h = 42L
      order.foreach(i => cells(i)._2.foreach(v => h = hashStep(v, h)))
      rows += 1
      sum = Math.floorMod(sum + Math.floorMod(h, P), P)
    }
    def result: Expected = Expected(rows, cols.map(c => c.name -> c.kind.collapsed).toMap, sum)
  }

  /** Row `rowId` of export stream `v` (0..2 full exports, 3 the delta). */
  private def row(seed: Long, f: Form, v: Int, rowId: Long): Seq[(String, Option[Any])] = {
    val r = new SplittableRandom(mix(seed, 2, f.idx, v, rowId))
    f.colsAt(v).map(c => cell(c.kind, rowId, r))
  }

  private def csvField(s: String): String =
    if (s.exists(ch => ch == ',' || ch == '"' || ch == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def writeCsv(path: String, cols: Seq[Col], rows: Iterator[Seq[String]]): Long = {
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    try {
      out.write(cols.map(c => csvField(c.name)).mkString(","))
      out.write('\n')
      rows.foreach { cells => out.write(cells.map(csvField).mkString(",")); out.write('\n') }
    } finally out.close()
    new java.io.File(path).length()
  }

  /** The delta of a form: upserts of existing keys, fresh keys, and
    * tombstones (disjoint from the upserts).
    */
  final case class Delta(upsertIds: Seq[Long], newIds: Seq[Long], tombIds: Seq[Long])

  def delta(seed: Long, f: Form): Delta = {
    val r = new SplittableRandom(mix(seed, 3, f.idx))
    val n = math.max(60, f.rows / 50)
    val picked = scala.collection.mutable.LinkedHashSet[Long]()
    while (picked.size < n + n / 2) picked += r.nextInt(f.rows).toLong
    val (up, tomb) = picked.toSeq.splitAt(n)
    Delta(up.sorted, (f.rows.toLong until f.rows.toLong + n / 2).toSeq, tomb.sorted)
  }

  /** What one sync of a form ingests, and the extract it must leave. */
  final case class Export(csv: String, tombCsv: Option[String], expected: Expected,
                          bytes: Long, crc: Long)

  /** The export of `phase` for form `f`: phases 0..2 are full exports
    * (phase 2 gains a column), phase 3 the delta of upserts and
    * tombstones that merges onto the phase-2 extract.
    */
  def export(seed: Long, f: Form, phase: Int, dir: String): Export = {
    new java.io.File(dir).mkdirs()
    val crc = new java.util.zip.CRC32()
    def crcOf(p: String): Unit = crc.update(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    def add(acc: Acc, cells: Seq[(String, Option[Any])]): Unit = acc.add(cells)
    val acc = new Acc(f.colsAt(phase))
    if (phase < 3) {
      val path = s"$dir/form${f.idx}_v$phase.csv"
      val bytes = writeCsv(path, f.colsAt(phase), Iterator.range(0, f.rows).map { i =>
        val cells = row(seed, f, phase, i.toLong)
        add(acc, cells)
        cells.map(_._1)
      })
      crcOf(path)
      Export(path, None, acc.result, bytes, crc.getValue)
    } else {
      // merged state = export 2 - (upserted and tombstoned keys) + delta rows
      val d = delta(seed, f)
      val gone = (d.upsertIds ++ d.tombIds).toSet
      (0 until f.rows).foreach(i => if (!gone(i.toLong)) add(acc, row(seed, f, 2, i.toLong)))
      val path = s"$dir/form${f.idx}_delta.csv"
      val bytes = writeCsv(path, f.colsAt(3), (d.upsertIds ++ d.newIds).iterator.map { id =>
        val cells = row(seed, f, 3, id)
        add(acc, cells)
        cells.map(_._1)
      })
      val tomb = s"$dir/form${f.idx}_tomb.csv"
      writeCsv(tomb, Seq(Col("_id", IdK)), d.tombIds.iterator.map(id => Seq(id.toString)))
      crcOf(path)
      crcOf(tomb)
      Export(path, Some(tomb), acc.result, bytes, crc.getValue)
    }
  }

  // ---- star schema --------------------------------------------------------

  /** Base-table row counts at scale `sf`: TPC-H proportions (0.01 gives
    * 60k lineitems), with embeddings capped at 2000 rows as in the
    * repository's sf0.1 test data.
    */
  def baseRows(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> (150000 * sf).toLong, "supplier" -> math.max(10L, (10000 * sf).toLong),
    "part" -> (200000 * sf).toLong, "orders" -> (1500000 * sf).toLong,
    "lineitem" -> (6000000 * sf).toLong, "events" -> (1000000 * sf).toLong,
    "documents" -> (50000 * sf).toLong, "embeddings" -> math.min(2000L, (50000 * sf).toLong))

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Base table `t`, a pure function of (seed, sf). */
  def base(spark: SparkSession, seed: Long, sf: Double, t: String): DataFrame = {
    val n = baseRows(sf)
    def h(salt: Int, extra: String = "") = s"xxhash64(${seed}L, $salt, id$extra)"
    def u(salt: Int, m: Long) = s"pmod(${h(salt)}, ${m}L)"
    def pick(salt: Int, xs: Seq[String]) =
      s"element_at(array(${xs.map(x => s"'$x'").mkString(",")}), cast(${u(salt, xs.length)} as int) + 1)"
    def money(salt: Int, lo: Long, hi: Long) = s"(${u(salt, hi - lo)} + $lo) / 100.0"
    def day(salt: Int, from: String, span: Int) =
      s"cast(date_add(date'$from', cast(${u(salt, span)} as int)) as timestamp_ntz)"
    val r = spark.range(n(t)).toDF("id")
    def sel(cols: (String, String)*): DataFrame = r.selectExpr(cols.map { case (c, e) => s"$e AS $c" }: _*)
    t match {
      case "region" => sel("r_regionkey" -> "cast(id as int)",
        "r_name" -> "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), cast(id as int) + 1)")
      case "nation" => sel("n_nationkey" -> "cast(id as int)",
        "n_name" -> "concat('NATION_', id)", "n_regionkey" -> "cast(id % 5 as int)")
      case "customer" => sel("c_custkey" -> "id",
        "c_name" -> "concat('Customer#', lpad(cast(id as string), 9, '0'))",
        "c_nationkey" -> s"cast(${u(1, 25)} as int)",
        "c_acctbal" -> s"${money(2, -99999, 999999)}",
        "c_mktsegment" -> pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))
      case "supplier" => sel("s_suppkey" -> "id",
        "s_name" -> "concat('Supplier#', lpad(cast(id as string), 9, '0'))",
        "s_nationkey" -> s"cast(${u(4, 25)} as int)",
        "s_acctbal" -> s"${money(5, -99999, 999999)}")
      case "part" => sel("p_partkey" -> "id",
        "p_name" -> s"concat(${pick(6, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small"))}, ' ', ${pick(7, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))})",
        "p_brand" -> s"concat('Brand#', ${u(8, 25)} + 1)",
        "p_type" -> pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
        "p_size" -> s"cast(${u(10, 50)} + 1 as int)",
        "p_retailprice" -> "900 + (id % 1000) / 10.0")
      case "orders" => sel("o_orderkey" -> "id",
        "o_custkey" -> u(11, n("customer")),
        "o_orderstatus" -> pick(12, Seq("F", "O", "P")),
        "o_totalprice" -> money(13, 101370, 49999859),
        "o_orderdate" -> day(14, "1995-01-01", 2404),
        "o_orderpriority" -> pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
      case "lineitem" => sel("l_orderkey" -> u(16, n("orders")),
        "l_partkey" -> u(17, n("part")), "l_suppkey" -> u(18, n("supplier")),
        "l_linenumber" -> s"cast(${u(19, 7)} + 1 as int)",
        "l_quantity" -> s"cast(${u(20, 50)} + 1 as double)",
        "l_extendedprice" -> money(21, 90182, 10499788),
        "l_discount" -> s"${u(22, 11)} / 100.0",
        "l_tax" -> s"${u(23, 9)} / 100.0",
        "l_returnflag" -> pick(24, Seq("A", "N", "R")),
        "l_linestatus" -> pick(25, Seq("F", "O")),
        "l_shipdate" -> day(26, "1995-01-02", 2498))
      case "events" =>
        val e = math.max(1L, n("events"))
        sel("event_id" -> "id",
          "ts" -> s"cast(timestamp_micros(1704067200000000 + id * ${2592000000000L / e}L + ${u(27, 1000000)}) as timestamp_ntz)",
          "user_id" -> u(28, math.max(10L, n("events") * 15 / 1000)),
          "event_type" -> pick(29, Seq("click", "error", "purchase", "signup", "view")),
          "value" -> money(30, 1, 49003),
          "props" -> s"concat('{\"k\": ', ${u(31, 100)}, '}')")
      case "documents" =>
        // words: one in seven a stopword (the quality filters key on
        // them), the rest from 1024 made-up content words, so unrelated
        // documents rarely share shingles. Every tenth doc (+1) is a
        // near-duplicate of its predecessor with ~1 word in 40 changed,
        // and every tenth (+2) an exact duplicate.
        val stop = graft.ops.TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString("array(", ",", ")")
        def word(salt: Int, key: String) =
          s"""if(pmod(xxhash64(${seed}L, $salt, $key), 7L) = 0,
             |  element_at($stop, cast(pmod(xxhash64(${seed}L, ${salt + 1}, $key), ${graft.ops.TextAnalysis.StopwordsEn.length}L) as int) + 1),
             |  element_at(vocab, cast(pmod(xxhash64(${seed}L, ${salt + 2}, $key), ${Vocab.length}L) as int) + 1))""".stripMargin
        r.withColumn("src", expr("case when id % 10 = 1 then id - 1 when id % 10 = 2 then id - 2 else id end"))
          .withColumn("vocab", typedLit(Vocab.toSeq))
          .selectExpr("id AS doc_id",
            s"""array_join(transform(sequence(1, 20 + cast(pmod(xxhash64(${seed}L, 32, src), 60L) as int)),
               |  j -> if(id % 10 = 1 AND pmod(xxhash64(${seed}L, 40, id, j), 40L) = 0,
               |    ${word(41, "id, j")}, ${word(33, "src, j")})), ' ') AS text""".stripMargin,
            s"element_at(array('en','en','en','de','es','fr','zh'), cast(${u(35, 7)} as int) + 1) AS lang",
            "concat('src', id % 20) AS source")
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // ten clusters of equal size: a vector's cluster (id mod 10) and
        // the centroids are the same for every seed, the seed moves each
        // vector around its centroid, so IVF cells hold as many vectors,
        // and similarity queries do as much work, for every seed
        r.selectExpr("id AS vec_id",
        "cast(id % 10 as int) AS label").selectExpr("vec_id",
        s"""transform(sequence(0, 63), i -> cast(
           |  (pmod(xxhash64(37, label, i), 2001L) - 1000) / 5000.0
           |  + (pmod(xxhash64(${seed}L, 38, vec_id, i), 2001L) - 1000) / 20000.0 AS float)) AS embedding""".stripMargin,
        "label")
    }
  }

  private val KeyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"), "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** ×`factor` replica of a base table with the key-salting scheme of
    * `graft.tools.ScaleUp`: copy c shifts every entity key by
    * c·KeyOffset, and documents' words carry a per-copy salt (copy 0 is
    * untouched). The salt tag is derived from the seed.
    */
  def replicate(df: DataFrame, t: String, factor: Int, seed: Long): DataFrame =
    if (t == "region" || t == "nation" || factor <= 1) df
    else {
      val off = graft.Tables.KeyOffset
      val fanned = df.withColumn("__c", explode(sequence(lit(0L), lit(factor - 1L))))
      val keyed = KeyCols(t).foldLeft(fanned)((d, k) => d.withColumn(k, col(k) + col("__c") * off))
      val salted =
        if (t != "documents") keyed
        else {
          val tag = lower(hex(pmod(xxhash64(lit(seed), col("__c")), lit(65536L))))
          val salt = array_join(transform(split(col("text"), " "), w => concat(w, lit("~"), tag)), " ")
          keyed.withColumn("text", when(col("__c") === 0, col("text")).otherwise(salt))
            .withColumn("n_chars", length(col("text")).cast("long"))
        }
      salted.drop("__c")
    }
}
