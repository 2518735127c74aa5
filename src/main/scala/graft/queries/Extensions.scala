package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables
import graft.etl.Scd
import graft.ops.{Behavior, Dedup, Multimodal, Pack, Resample, Sampling, Scale, Similarity, TextAnalysis}

/** North-star extension queries: dedup, similarity search, text analysis,
  * multimodal — the training-data-pipeline operators beyond the
  * reference's own surface (BASELINE.json north_star).
  *
  * Every oracle-checked query here uses only engine-portable hashing
  * (md5/sha256 hex) and double arithmetic with a fixed fold order, so
  * Spark and DuckDB produce bit-identical results. Probabilistic stages
  * (MinHash, LSH bands) are deterministic functions of the content —
  * the oracle reproduces the same signatures, hence the same candidate
  * sets. Spark-only queries (LSH ANN probe) omit oracle SQL → the driver
  * records a rows-only check.
  */
object Extensions {

  private def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString(", ")

  // ---- text near-dup and set-sim family dials ---------------------------
  // Read by each member's Spark call AND by [[DedupSql]], so the engine
  // and its oracle replay cannot drift apart on a dial.

  /** Twins: every document's prefix-keep twin under doc_id + TwinOffset,
    * its keep step `doc_id % TwinCycle`.
    */
  private val TwinOffset = 10000000L
  private val TwinCycle = 10
  /** Probes: a twin of every ProbeEvery-th document under doc_id +
    * ProbeOffset, its keep step `(doc_id % (10·ProbeEvery)) DIV ProbeEvery`.
    */
  private val ProbeOffset = 20000000L
  private val ProbeEvery = 25
  /** A twin keeps KeepBase + step·KeepStep of its words, at least KeepMin. */
  private val KeepBase = 0.5
  private val KeepStep = 0.05
  private val KeepMin = 3
  /** The exact joins' threshold (num/den), and the two swept thresholds. */
  private val ExactJ = (7, 10)
  private val SweepThresholds = Seq((7, 10), (9, 10))
  /** The LSH verify thresholds q_dedup_threshold_sweep prices. */
  private val SweepJ = Seq(0.7, 0.8, 0.9)
  /** The verify threshold of the deployed LSH tier (k = 6, 3 bands of 2). */
  private val NearDupJ = 0.8
  private val LshK = 6
  private val LshRows = 2

  /** `docs` (doc_id, text) cut to prefix-keep twins under doc_id + `offset`. */
  private def prefixTwins(docs: org.apache.spark.sql.DataFrame, offset: Long,
      step: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val words = split(col("text"), " ")
    val keep = greatest(ceil(size(words) *
        (lit(KeepBase) + step.cast(DoubleType) * lit(KeepStep)))
      .cast("int"), lit(KeepMin))
    docs.select((col("doc_id") + offset).as("doc_id"),
      array_join(slice(words, lit(1), keep), " ").as("text"))
  }

  /** The twin corpus: every document (doc_id, text) plus its twin. The
    * fixture's own near-dups all sit at j ≥ 0.9; the twins' pair
    * similarities span the swept thresholds.
    */
  private def twinCorpus(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionAll(prefixTwins(docs, TwinOffset, col("doc_id") % TwinCycle))
  }

  /** The documents (doc_id, text) and the probe twins of every
    * ProbeEvery-th one, whose matches span the exact threshold.
    */
  private def probeSplit(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    (docs, prefixTwins(docs.filter(col("doc_id") % ProbeEvery === 0), ProbeOffset,
      expr(s"(doc_id % ${10 * ProbeEvery}) DIV $ProbeEvery")))
  }

  /** Oracle composer of the text near-dup and set-sim family, on the
    * [[AnnSql]] model: each member's DuckDB replay is a list of the named
    * CTE pieces below plus a tail, so a piece (the twin corpus, the
    * shingle sets, the signature and bands, the verified pairs, the
    * closure, the exact prefix chain, the SimHash votes) is written once.
    * The relations most readers read more than once (shingles,
    * signatures, bands, candidates, set sizes and the exact chain) are
    * `MATERIALIZED`: DuckDB 1.0 otherwise inlines a CTE at every
    * reference, and the frontier's 38 rows would re-derive the shingles,
    * signatures and exact pairs per reference and run out of memory.
    *
    * Relations: `sh(id, shingle)` the distinct word 3-grams;
    * `lp(id_a, id_b, i, na, nb, j)` the LSH candidate pairs with their
    * overlap, set sizes and Jaccard; `vpairs` those at [[NearDupJ]];
    * `cl(doc_id, cluster_id)` the closure; `pc<num>`/`ex<num>` the exact
    * tier's candidates and pairs.
    */
  private object DedupSql {

    /** `name AS MATERIALIZED (body)`. */
    private def cte(name: String, body: String): String = s"$name AS MATERIALIZED ($body)"

    /** The kept words of `text` at keep step `step`. The keep-fraction
      * arithmetic must run in IEEE DOUBLE on BOTH engines: DuckDB types
      * bare 0.5/0.05 as DECIMAL (exact), Spark lit(0.5) as double — at an
      * exact-integer product (e.g. 100 words × 0.55: double says
      * 55.000000000000007, decimal says 55) ceil() diverges by one word
      * and the twin texts differ, so both literals are CAST to DOUBLE
      * before any arithmetic.
      */
    private def prefixKeep(step: String): String =
      s"""array_to_string(list_slice(string_split(text, ' '), 1,
         |greatest(CAST(ceil(len(string_split(text, ' ')) *
         |(CAST($KeepBase AS DOUBLE) + ($step) * CAST($KeepStep AS DOUBLE))) AS INTEGER), $KeepMin)), ' ')""".stripMargin

    /** `twins(doc_id, text)` and `corpus`, the documents plus the twins. */
    val TwinCorpus: String =
      s"""twins AS (SELECT doc_id + $TwinOffset AS doc_id,
         |${prefixKeep(s"doc_id % $TwinCycle")} AS text FROM documents),
         |corpus AS (SELECT doc_id, text FROM documents
         |UNION ALL SELECT doc_id, text FROM twins)""".stripMargin

    /** `probes(id, text)`. */
    val Probes: String =
      s"""probes AS (SELECT doc_id + $ProbeOffset AS id,
         |${prefixKeep(s"(doc_id % ${10 * ProbeEvery}) // $ProbeEvery")} AS text
         |FROM documents WHERE doc_id % $ProbeEvery = 0)""".stripMargin

    /** `name(id, shingle)`: the distinct word 3-grams of each row of
      * `from` (keyed by its column `id`); 1-based list indexing, range is
      * [a, b), so a text of fewer than 3 words has none.
      */
    def shingles(name: String = "sh", from: String = "documents", id: String = "doc_id"): String =
      cte(name,
        s"""SELECT DISTINCT $id AS id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           |FROM (SELECT $id, string_split(text, ' ') AS w FROM $from) words,
           |LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) t""".stripMargin)

    /** `name(id, s0 … s<k-1>)`: each document's k-component MinHash over
      * `sh` — one md5 per shingle, component i the minimum of hex chunk
      * [i·w, i·w + w) with w = [[graft.ops.Dedup.sigWidth]](k), the
      * engine's chunking.
      */
    def sig(k: Int, name: String = "sig"): String = {
      val w = Dedup.sigWidth(k)
      cte(name, (0 until k)
        .map(i => s"min(substr(md5(shingle), ${i * w + 1}, $w)) AS s$i")
        .mkString("SELECT id, ", ", ", " FROM sh GROUP BY id"))
    }

    /** `bands<sfx>(band_id, band_key, id)`: `sig`'s k/r bands of r
      * components joined by '|'; `cand<sfx>(id_a, id_b)` the pairs sharing
      * a band key (the uncapped band self-join).
      */
    def bands(k: Int, r: Int, sig: String = "sig", sfx: String = ""): String = {
      val sel = (0 until k / r).map { b =>
        (0 until r).map(j => s"s${b * r + j}").mkString(s"SELECT $b AS band_id, ", " || '|' || ",
          s" AS band_key, id FROM $sig")
      }
      cte(s"bands$sfx", sel.mkString("\nUNION ALL "))
    }

    def cand(sfx: String = ""): String =
      cte(s"cand$sfx", s"""SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM bands$sfx a
         |JOIN bands$sfx b ON a.band_id = b.band_id AND a.band_key = b.band_key
         |AND a.id < b.id""".stripMargin)

    /** The deployed LSH tier over `sh` ([[graft.ops.Dedup.nearDupPairs]]'
      * default geometry): `sig`, `bands`, `cand`, then per candidate pair
      * `lp(id_a, id_b, i, na, nb, j)`.
      *
      * SCOPE NOTE: the oracle replays the UNCAPPED band self-join, while
      * the engine path drops band buckets above Dedup.DefaultMaxBucket
      * (4096). The two agree exactly as long as no bucket exceeds the cap
      * — the cap's own documented contract at oracle scale; the capped
      * regime (boilerplate-heavy corpora) is covered by SkewCapSpec's
      * 5k-copy stress plus the CapMetrics drop ledger the bench records,
      * NOT by this oracle.
      */
    val Lsh: String =
      Seq(sig(LshK), bands(LshK, LshRows), cand()).mkString("", ",\n", ",\n") +
        cte("sizes", "SELECT id, count(*) AS n FROM sh GROUP BY id") + ",\n" +
        s"""lp AS (SELECT x.id_a, x.id_b, x.i, sa.n AS na, sb.n AS nb,
           |CAST(x.i AS DOUBLE) / (sa.n + sb.n - x.i) AS j
           |FROM (SELECT c.id_a, c.id_b, count(*) AS i FROM cand c
           |JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
           |GROUP BY c.id_a, c.id_b) x
           |JOIN sizes sa ON x.id_a = sa.id JOIN sizes sb ON x.id_b = sb.id)""".stripMargin

    /** `vpairs(id_a, id_b, j)`: the LSH pairs that verify at [[NearDupJ]]. */
    val Verified: String = s"vpairs AS (SELECT id_a, id_b, j FROM lp WHERE j >= $NearDupJ)"

    private val Reach = "reach(src, dst)"

    /** `cl(doc_id, cluster_id)`: every id of a `pairs(id_a, id_b)` edge
      * with the least id it reaches — the closure [[graft.ops.Dedup.clusters]]
      * computes, as a recursive transitive closure.
      */
    def closure(pairs: String = "vpairs"): String =
      s"""edges AS (SELECT id_a AS src, id_b AS dst FROM $pairs
         |UNION SELECT id_b, id_a FROM $pairs),
         |$Reach AS (SELECT src, dst FROM edges
         |UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |FROM reach GROUP BY src)""".stripMargin

    /** The canonical-collapse filter over `cl`: a document survives unless
      * its cluster's least id is another one.
      */
    val Survives: String = "doc_id NOT IN (SELECT doc_id FROM cl WHERE cluster_id <> doc_id)"

    /** The exact prefix-filter chain, the relational replay of the exact
      * set-sim joins ([[graft.ops.Dedup.setSimJoinExact]] and its R-S
      * form), over shingle relations `a` and `b` — a self-join (`id_a <
      * id_b`) when they are the same relation. `freq` counts each shingle
      * over both sides; `pos_<side>` numbers each set's shingles by (cnt,
      * shingle), the canonical order, with `s` the set size. Per threshold
      * num/den: `pc<num>(id_a, id_b, s_a, s_b)` are the pairs sharing a
      * token of both prefixes `pos ≤ s − ⌈num·s/den⌉ + 1`, past the
      * integer length filter and the PPJoin positional filter, and
      * `ex<num>(id_a, id_b, inter, uni)` the pairs with den·|A∩B| ≥
      * num·|A∪B|. All gating is integer, as in the engine.
      */
    def exact(a: String, b: String, thresholds: Seq[(Int, Int)]): String = {
      val sides = Seq(a, b).distinct
      val freq = cte("freq", sides.map(t => s"SELECT shingle FROM $t")
        .mkString("SELECT shingle, CAST(count(*) AS BIGINT) AS cnt FROM (", " UNION ALL ",
          ") u GROUP BY shingle"))
      val pos = sides.map(t => cte(s"pos_$t",
        s"""SELECT id, shingle, row_number() OVER (PARTITION BY id ORDER BY cnt, shingle) AS pos,
           |count(*) OVER (PARTITION BY id) AS s FROM $t JOIN freq USING (shingle)""".stripMargin))
      val self = if (a == b) " AND a.id < b.id" else ""
      val chain = thresholds.map { case (num, den) =>
        def prefix(x: String) = s"$x.pos <= $x.s - ($num * $x.s + ${den - 1}) // $den + 1"
        cte(s"pc$num",
          s"""SELECT DISTINCT id_a, id_b, s_a, s_b FROM
             |(SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b,
             |1 + least(a.s - a.pos, b.s - b.pos) AS ub
             |FROM pos_$a a JOIN pos_$b b ON a.shingle = b.shingle$self
             |WHERE ${prefix("a")} AND ${prefix("b")}) x
             |WHERE $den * least(s_a, s_b) >= $num * greatest(s_a, s_b)
             |AND ${num + den} * ub >= $num * (s_a + s_b)""".stripMargin) + ",\n" +
          cte(s"ex$num",
            s"""SELECT id_a, id_b, inter, s_a + s_b - inter AS uni FROM
               |(SELECT c.id_a, c.id_b, c.s_a, c.s_b, CAST(count(*) AS BIGINT) AS inter
               |FROM pc$num c JOIN $a ta ON ta.id = c.id_a
               |JOIN $b tb ON tb.id = c.id_b AND tb.shingle = ta.shingle
               |GROUP BY c.id_a, c.id_b, c.s_a, c.s_b) x
               |WHERE $den * inter >= $num * (s_a + s_b - inter)""".stripMargin)
      }
      (Seq(freq) ++ pos ++ chain).mkString(",\n")
    }

    /** The exact tier's `jaccard`, rounded as the engine rounds it. */
    val ExactJaccard: String = "round(CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE), 6) AS jaccard"

    /** `lsh_recall` of `lsh_recovered` over `exact_pairs` (NULL without any). */
    val Recall: String = """CASE WHEN exact_pairs = 0 THEN NULL
      |ELSE round(CAST(lsh_recovered AS DOUBLE) / exact_pairs, 4) END AS lsh_recall""".stripMargin

    /** `sig(id, simhash)`: [[graft.ops.Dedup.simhash]] over whitespace
      * tokens — per bit, +1/−1 votes of each token's md5 prefix, set when
      * the sum is ≥ 0. 16 hex digits parse as UBIGINT (BIGINT overflows
      * past bit 62); the signed combine reproduces the two's-complement
      * long exactly.
      */
    val Simhash: String = {
      val votes = (0 until Dedup.SimhashBits).map(b =>
        s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
      val combine = (0 until Dedup.SimhashBits).map(b =>
        s"CASE WHEN v$b >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END").mkString(" + ")
      s"""tok AS (SELECT doc_id AS id,
         |CAST(concat('0x', substring(md5(t.tok), 1, 16)) AS UBIGINT) AS h
         |FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS tok) t),
         |votes AS (SELECT id, $votes FROM tok GROUP BY id),
         |sig AS (SELECT id, $combine AS simhash FROM votes)""".stripMargin
    }

    /** The replay: `ctes` in order (RECURSIVE when one is the closure),
      * then `select`.
      */
    def answer(ctes: String*)(select: String): String =
      ((if (ctes.exists(_.contains(Reach))) "WITH RECURSIVE " else "WITH ") +
        ctes.mkString(",\n") + "\n" + select).replace("\n", " ")

    /** Oracle for q_setsim_lsh_frontier, GENERATED from the same
      * [[graft.ops.Dedup.lshGeometries]] enumeration and
      * [[graft.ops.Dedup.sigWidth]] chunk widths the engine uses — the
      * geometry set, per-k signature scheme, and banding cannot drift
      * between the two sides. Over the twin corpus: the exact chain per
      * swept threshold, one signature per distinct k, one banding and
      * candidate set per geometry, and per geometry one pass over its
      * candidates that counts them and the exact pairs among them at
      * every threshold.
      */
    lazy val Frontier: String = {
      val geoms = Dedup.lshGeometries.sortBy(g => (g._1, g._2))
      def g(k: Int, r: Int) = s"${k}_$r"
      val sigs = geoms.map(_._1).distinct.map(k => sig(k, s"sig$k"))
      val cands = geoms.map { case (k, r) => bands(k, r, s"sig$k", g(k, r)) + ",\n" + cand(g(k, r)) }
      val counts = geoms.map { case (k, r) =>
        val joins = SweepThresholds.map { case (num, _) =>
          s"LEFT JOIN ex$num e$num ON e$num.id_a = c.id_a AND e$num.id_b = c.id_b" }
        val recs = SweepThresholds.map { case (num, _) => s"count(e$num.id_a) AS rec$num" }
        cte(s"n${g(k, r)}", s"SELECT count(*) AS nc, ${recs.mkString(", ")} " +
          s"FROM cand${g(k, r)} c ${joins.mkString(" ")}")
      }
      val rows = for { (num, den) <- SweepThresholds; (k, r) <- geoms } yield
        s"""SELECT CAST($num AS DOUBLE) / $den AS threshold,
           |CAST($k AS INTEGER) AS k, CAST($r AS INTEGER) AS band_rows,
           |CAST(${k / r} AS INTEGER) AS bands,
           |round(1 - pow(1 - pow(CAST($num AS DOUBLE) / $den, $r), ${k / r}), 4) AS capture_at_t,
           |(SELECT count(*) FROM ex$num) AS exact_pairs, rec$num AS lsh_recovered,
           |nc AS lsh_candidates FROM n${g(k, r)}""".stripMargin
      answer(Seq(TwinCorpus, shingles(from = "corpus"), exact("sh", "sh", SweepThresholds)) ++
        sigs ++ cands ++ counts :+ s"f AS (${rows.mkString("\nUNION ALL ")})": _*)(
        s"""SELECT threshold, k, band_rows, bands, capture_at_t,
           |CAST(exact_pairs AS BIGINT) AS exact_pairs, CAST(lsh_recovered AS BIGINT) AS lsh_recovered,
           |$Recall, CAST(lsh_candidates AS BIGINT) AS lsh_candidates
           |FROM f ORDER BY threshold, k, band_rows""".stripMargin)
    }
  }

  /** Oracle for q_minhash_signature AND q_minhash_udaf: the typed
    * Aggregator must produce the codegen path's signature exactly.
    */
  private val MinhashSignatureSql =
    DedupSql.answer(DedupSql.shingles(), DedupSql.sig(LshK))(
      (0 until LshK).map(i => s"s$i").mkString("SELECT id AS doc_id, ", ", ",
        " FROM sig ORDER BY doc_id"))

  /** Oracle for q_minhash_lsh_pairs AND q_sql_neardup: the one-statement
    * Spark SQL pipeline is result-identical to the DataFrame one.
    */
  private val NearDupPairsSql =
    DedupSql.answer(DedupSql.shingles(), DedupSql.Lsh, DedupSql.Verified)(
      "SELECT id_a, id_b, round(j, 4) AS jaccard FROM vpairs ORDER BY id_a, id_b")

  /** Oracle for q_decontaminate AND q_bloom_decontaminate: the Bloom
    * prefilter must not change the exact answer.
    */
  private val DecontaminateSql =
    DedupSql.answer(DedupSql.shingles(),
      """own AS (SELECT id, CAST(count(*) AS BIGINT) AS n_shingles
        |FROM sh WHERE id % 50 <> 0 GROUP BY id),
        |b AS (SELECT DISTINCT shingle FROM sh WHERE id % 50 = 0),
        |hits AS (SELECT id, CAST(count(*) AS BIGINT) AS n_overlap FROM sh
        |WHERE id % 50 <> 0 AND shingle IN (SELECT shingle FROM b) GROUP BY id)""".stripMargin)(
      """SELECT own.id AS doc_id, n_shingles,
        |CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
        |round(CAST(coalesce(n_overlap, 0) AS DOUBLE) / n_shingles, 5) AS overlap_ratio
        |FROM own LEFT JOIN hits ON own.id = hits.id
        |ORDER BY doc_id""".stripMargin)

  /** Number of frequency-ranked merge rules q_bpe_encode applies. */
  private val BpeRules = 16

  /** DuckDB replay of [[graft.functions.BpeEncode]]: the word `w` spread
    * to space-separated code points, then one left-to-right
    * `list_reduce` fold per merge rule `m[k]` (in priority order) that
    * fuses a trailing symbol `a` with an incoming `b` into `ab`. A fused
    * symbol is `a||b != a`, so it can never re-fuse with the next input
    * on the same rule — the kernel's non-overlapping semantics fall out
    * of the fold itself. Out-of-range `m[k]` folds to NULL conditions →
    * the ELSE branch → an identity pass, matching the kernel's shorter
    * merge table.
    */
  private val BpeFoldSql: String = {
    val chars = "array_to_string(list_transform(range(1, len(w) + 1)," +
      " i -> substring(w, i, 1)), ' ')"
    (1 to BpeRules).foldLeft(chars) { (inner, k) =>
      val a = s"split_part(m[$k], ' ', 1)"
      val b = s"split_part(m[$k], ' ', 2)"
      s"list_reduce(string_split($inner, ' '), (acc, x) -> " +
        s"CASE WHEN x = $b AND (acc = $a OR ends_with(acc, ' ' || $a)) " +
        s"THEN left(acc, len(acc) - len($a)) || $a || $b " +
        s"ELSE acc || ' ' || x END)"
    }
  }

  /** Shared flagged-islands CTE chain (Lee et al. fixed-n core) for the
    * four substring-dedup oracles: toks → 8-grams → corpus-flagged set →
    * per-doc flagged starts → gaps-and-islands. ONE definition — the
    * gram width (7 = n−1) and the island break rule (gap >= n) are
    * load-bearing boundaries, and a fix applied to a duplicated copy
    * would silently leave the other oracle stale (the rule
    * [[DedupSql]]'s pieces follow).
    */
  private val NgramIslandCtes =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (SELECT doc_id, i AS start,
      |array_to_string(list_slice(w, i, i + 7), ' ') AS g
      |FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) t),
      |flagged AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
      |fs AS (SELECT doc_id, start FROM grams WHERE g IN (SELECT g FROM flagged)),
      |isl AS (SELECT doc_id, start,
      |sum(CASE WHEN start - prev >= 8 THEN 1 ELSE 0 END)
      |OVER (PARTITION BY doc_id ORDER BY start) AS island
      |FROM (SELECT doc_id, start,
      |lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev FROM fs) t)"""
      .stripMargin.replace("\n", " ")

  /** Oracle for q_ngram_spans AND q_ngram_spans_hashed: exact string
    * gram keys — the hashed variant's contract is answer-identity with
    * the exact form (md5-prefix collisions are ~2⁻⁶⁰ per pair and can
    * only false-positive, never unflag), so both check against one SQL.
    */
  private val NgramSpansSql =
    NgramIslandCtes + """,
      |cov AS (SELECT doc_id, CAST(sum(mx - mn + 8) AS BIGINT) AS covered
      |FROM (SELECT doc_id, island, min(start) AS mn, max(start) AS mx
      |FROM isl GROUP BY doc_id, island) u GROUP BY doc_id)
      |SELECT d.doc_id AS id,
      |CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |c.covered,
      |round(CAST(c.covered AS DOUBLE) / len(string_split(d.text, ' ')), 5)
      |AS dup_frac
      |FROM documents d JOIN cov c ON c.doc_id = d.doc_id
      |ORDER BY id""".stripMargin.replace("\n", " ")

  /** Oracle for q_ngram_scrub AND q_ngram_scrub_hashed — same
    * answer-identity contract as [[NgramSpansSql]].
    */
  private val NgramScrubSql =
    NgramIslandCtes + """,
             |rng AS (SELECT doc_id, list(struct_pack(lo := mn, hi := mx + 7)) AS rs
             |FROM (SELECT doc_id, island, min(start) AS mn, max(start) AS mx
             |FROM isl GROUP BY doc_id, island) u GROUP BY doc_id),
             |cl AS (SELECT d.doc_id AS id, CASE WHEN r.rs IS NULL THEN d.text
             |ELSE coalesce(array_to_string(list_filter(string_split(d.text, ' '),
             |(x, i) -> len(list_filter(r.rs, q -> i >= q.lo AND i <= q.hi)) = 0),
             |' '), '') END AS ct
             |FROM documents d LEFT JOIN rng r ON r.doc_id = d.doc_id)
             |SELECT id, md5(ct) AS clean_md5,
             |CAST(CASE WHEN ct = '' THEN 0 ELSE len(string_split(ct, ' ')) END AS BIGINT) AS n_after
             |FROM cl ORDER BY id""".stripMargin.replace("\n", " ")

  /** Oracle for q_bigram_lm AND q_bigram_lm_hashed: the hashed keys are
    * answer-identical to the exact bigram strings absent ~2⁻⁶⁴ collisions.
    */
  private val BigramLmSql =
    """WITH w AS (SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents),
      |bg AS (SELECT id, w[i] || ' ' || w[i+1] AS bg FROM w,
      |LATERAL (SELECT unnest(range(1, len(w))) AS i) t),
      |bgc AS (SELECT bg, count(*) AS cb FROM bg GROUP BY bg),
      |pc AS (SELECT string_split(bg, ' ')[1] AS pref, sum(cb) AS cp FROM bgc GROUP BY 1)
      |SELECT id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |round(avg(log2(CAST(cb AS DOUBLE) / CAST(cp AS DOUBLE))), 3) AS mean_log2p
      |FROM bg JOIN bgc USING (bg) JOIN pc ON string_split(bg, ' ')[1] = pref
      |GROUP BY id ORDER BY id""".stripMargin.replace("\n", " ")

  /** Shared recall-audit harness (X149/X152/X154/X161): per probe,
    * recall@10 of `approxJoin`'s (query_id, match_id) pairs against the
    * exact cosine top-10 over the fixed probe/corpus split. One place
    * for the policy the four audits must never drift apart on: the
    * empty-corpus guard (schema-exact empty frame), the exact leg
    * leaf-materialized ONCE (it feeds the denominator key set AND the
    * hit intersection — at 100 TB the sampled ground truth is the
    * expensive leg), the /k denominator, and the eager materialization
    * that releases the leaf's backing RDD before return (the r14
    * audit-leak fix).
    */
  private def recallAudit(s: org.apache.spark.sql.SparkSession, d: String,
      approxJoin: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (probes, corpus) = annSplit(s, d)
    val k = AuditK
    // empty corpus (degenerate tenant): nothing to recall against, and
    // the approximate legs cannot even derive their geometry — answer
    // the empty audit (take(1) stops at the first row, trivial at scale)
    if (corpus.select(col("vec_id")).take(1).isEmpty)
      probes.select(col("vec_id").as("query_id"),
        lit(0L).as("n_hits"), lit(0.0).as(s"recall_at_$k")).limit(0)
    else {
      // the exact ground-truth leg and the approximate leg are
      // independent until the hits join, and the approximate leg's
      // construction runs several BLOCKING driver actions (centroid
      // collects, codebook training) — materialize the exact leg on a
      // concurrent job so its stages back-fill the executors those
      // actions leave idle (guide §2.6; r18 profile: q_pq_full_stack
      // spent >half its wall in driver gaps between 26 tiny jobs). Same
      // results by construction — only job scheduling overlaps; a failed
      // approximate leg still waits for the exact leg and releases it.
      val ((exact, exactRdd), approx) = Dedup.overlapped(
        Dedup.materializeLeaf(
          Similarity.annJoinExact(probes, corpus, "vec_id", "embedding", k)
            .select(col("query_id"), col("match_id"))))(
        _._2.unpersist(blocking = false)) {
        approxJoin(probes, corpus).select(col("query_id"), col("match_id"))
      }
      val hits = exact.join(approx, Seq("query_id", "match_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      val out = exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast(DoubleType) / lit(k.toDouble), 4)
            .as(s"recall_at_$k"))
        .orderBy("query_id")
      Dedup.eagerlyWith(out, () => { exactRdd.unpersist(blocking = false); () })
    }
  }

  // ---- vector-search family geometry ----------------------------------
  // Read by each member's Spark call AND by [[AnnSql]], so the engine
  // and its oracle replay cannot drift apart on a dial.

  /** `vec_id < ProbeIds` are the probes, the rest is the corpus. */
  private val ProbeIds = 5
  /** Recall is measured at this k. */
  private val AuditK = 10
  /** Coarse IVF cells, seeded from the lowest-id corpus vectors. */
  private val Cells = 8
  /** Cells each probe reads. */
  private val NProbe = 2
  /** PQ subspaces per vector, and codewords per subspace. */
  private val PqM = 4
  private val PqKs = 8
  /** The re-rank shortlist is Refine·k ADC candidates. */
  private val Refine = 8
  /** The refine curve's shortlist tiers (multiples of k). */
  private val RefineTiers = Seq(1, 2, 4, 8, 12)
  /** Lloyd rounds of the refined-cell tiers. */
  private val LloydIters = 2
  /** Sign-LSH hyperplanes, and the audited multi-probe radius. */
  private val LshPlanes = 4
  private val LshRadius = 2
  /** Top-k of the non-audit members: q_ivf_join, and q_pq_adc/q_ivf_pq. */
  private val IvfJoinK = 3
  private val PqTopK = 5
  /** Embedding width: the engine reads it off the data, SQL spells it. */
  private val Dim = 64
  private val SubDim = Dim / PqM

  /** The probe/corpus split every family member reads. */
  private def annSplit(s: org.apache.spark.sql.SparkSession, d: String) = {
    val emb = Tables.embeddings(s, d)
    (emb.filter(col("vec_id") < ProbeIds), emb.filter(col("vec_id") >= ProbeIds))
  }

  /** Oracle composer of the vector-search family: each member's DuckDB
    * replay is a list of the named CTE pieces below plus a tail, so a
    * piece (the Lloyd round, the cell assignment, the ADC fold, …) is
    * written once. Every piece keeps the engine's arithmetic and
    * tie-breaks: cosines are `list_cosine_similarity(probe, other)`,
    * nearest-cell ties go to the larger cell (the ivfAssign side),
    * codeword ties to the smaller index, neighbor ties to the smaller
    * id, and subvector distances fold in ascending subspace order.
    *
    * Relations: `qs`/`corp` (vec_id, l DOUBLE[]) are probes and corpus;
    * `pairs` (query_id, match_id, sim) every probe × corpus cosine;
    * `ex` the exact top-k; `ap` the approximate leg the tail scores.
    */
  private object AnnSql {

    /** Probes `qs` and corpus `corp`; `whole` keeps the probes in the
      * corpus (q_pq_adc, q_ivf_pq search the whole table).
      */
    def split(whole: Boolean = false): String =
      s"""qs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS l
         |FROM embeddings WHERE vec_id < $ProbeIds),
         |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS l
         |FROM embeddings${if (whole) "" else s" WHERE vec_id >= $ProbeIds"})""".stripMargin

    /** `name(query_id, match_id, sim)`: every probe × `other` cosine. */
    def cosine(name: String, other: String): String =
      s"""$name AS (SELECT qs.vec_id AS query_id, $other.vec_id AS match_id,
         |list_cosine_similarity(qs.l, $other.l) AS sim FROM qs CROSS JOIN $other)""".stripMargin

    /** `name`: per probe (and `dial` tier) the `k` nearest rows of
      * `from` — `sim` descending or `adc` ascending, ties to the smaller
      * match_id — with the score and the rank `rk`.
      */
    def top(name: String, from: String, score: String, k: Int, dial: String = ""): String = {
      val by = if (dial.isEmpty) "query_id" else s"query_id, $dial"
      val order = if (score == "adc") "adc" else s"$score DESC"
      s"""$name AS (SELECT * FROM (SELECT $by, match_id, $score,
         |row_number() OVER (PARTITION BY $by ORDER BY $order, match_id) AS rk
         |FROM $from) t WHERE rk <= $k)""".stripMargin
    }

    /** `pairs` and the exact top-k leg `ex`. */
    private val Exact: String = cosine("pairs", "corp") + ",\n" + top("ex", "pairs", "sim", AuditK)

    /** `name(vec_id, l, cell)`: each corpus vector's nearest centroid. */
    private def assign(name: String, cents: String): String =
      s"""$name AS (SELECT vec_id, l, cell FROM (SELECT corp.vec_id, corp.l, $cents.cell,
         |row_number() OVER (PARTITION BY corp.vec_id ORDER BY
         |list_cosine_similarity(corp.l, $cents.c) DESC, $cents.cell DESC) AS rn
         |FROM corp CROSS JOIN $cents) t WHERE rn = 1)""".stripMargin

    /** `cents(cell, c)`: the [[Cells]] lowest-id corpus vectors refined
      * by `iters` Lloyd rounds, unrolled the way q_pagerank unrolls its
      * CTE — per round, assign against the previous centroids, average
      * each cell's members element-wise (sum/count, the
      * ivfCentroidsKMeans formulation), and emptied cells keep their
      * previous centroid. Then `assigned`: the corpus against `cents`.
      */
    def cells(iters: Int): String = {
      def c(i: Int) = if (i == iters) "cents" else s"cents$i"
      val rounds = (0 until iters).map { i =>
        s"""${assign(s"a$i", c(i))},
           |m$i AS (SELECT cell, list(x ORDER BY i) AS c FROM
           |(SELECT cell, t.i AS i, sum(l[t.i]) / count(*) AS x
           |FROM a$i, range(1, ${Dim + 1}) t(i) GROUP BY cell, t.i) s GROUP BY cell),
           |${c(i + 1)} AS (SELECT ${c(i)}.cell, coalesce(m$i.c, ${c(i)}.c) AS c
           |FROM ${c(i)} LEFT JOIN m$i ON m$i.cell = ${c(i)}.cell)""".stripMargin
      }
      (s"${c(0)} AS (SELECT vec_id AS cell, l AS c FROM corp ORDER BY vec_id LIMIT $Cells)" +:
        rounds :+ assign("assigned", "cents")).mkString(",\n")
    }

    /** The probe window: `qranks`, each probe's `nProbe` nearest cells
      * ranked as `cellrank`, and `cand(query_id, match_id, cell,
      * cellrank)`, the corpus vectors assigned to them.
      */
    def probe(nProbe: Int): String =
      s"""qranks AS (SELECT * FROM (SELECT qs.vec_id AS query_id, cents.cell,
         |row_number() OVER (PARTITION BY qs.vec_id ORDER BY
         |list_cosine_similarity(qs.l, cents.c) DESC, cents.cell DESC) AS cellrank
         |FROM qs CROSS JOIN cents) t WHERE cellrank <= $nProbe),
         |cand AS (SELECT r.query_id, a.vec_id AS match_id, r.cell, r.cellrank
         |FROM qranks r JOIN assigned a ON a.cell = r.cell)""".stripMargin

    /** `ivfc`: every candidate's exact cosine — the exact-in-cell tier. */
    val InCell: String =
      """ivfc AS (SELECT c.query_id, c.match_id, c.cellrank, p.sim FROM cand c
        |JOIN pairs p ON p.query_id = c.query_id AND p.match_id = c.match_id)""".stripMargin

    /** Squared L2 between subvector element `x(i)` and codeword `cb.w`. */
    private def sqDist(x: String): String =
      s"list_sum(list_transform(range(1, ${SubDim + 1}), i -> ($x - cb.w[i]) * ($x - cb.w[i])))"

    /** The PQ codebook over the raw corpus, or over the residuals
      * `resi` (vector − its cell's centroid): `cb(mi, c, w)` seeds
      * codeword c of subspace mi from the c-th lowest-id vector, and
      * `codes(vec_id, mi, c)` is each subvector's nearest codeword. Below
      * [[PqKs]] corpus vectors there is no quantizer to build: the seeds
      * are empty, so every ADC leg is — the engine's skip.
      */
    def codes(residual: Boolean): String = {
      val src = if (residual) "resi" else "corp"
      val resi =
        if (!residual) ""
        else s"""resi AS (SELECT a.vec_id,
                |list_transform(range(1, ${Dim + 1}), i -> a.l[i] - ct.c[i]) AS l
                |FROM assigned a JOIN cents ct ON ct.cell = a.cell),
                |""".stripMargin
      resi +
        s"""seeds AS (SELECT l, row_number() OVER (ORDER BY vec_id) - 1 AS c
           |FROM (SELECT vec_id, l FROM $src ORDER BY vec_id LIMIT $PqKs) s
           |WHERE (SELECT count(*) FROM corp) >= $PqKs),
           |ms AS (SELECT unnest(range(0, $PqM)) AS mi),
           |cb AS (SELECT ms.mi, seeds.c,
           |list_slice(seeds.l, ms.mi*$SubDim + 1, ms.mi*$SubDim + $SubDim) AS w
           |FROM seeds CROSS JOIN ms),
           |dist AS (SELECT $src.vec_id, cb.mi, cb.c,
           |${sqDist(s"$src.l[cb.mi*$SubDim + i]")} AS dd
           |FROM $src CROSS JOIN cb),
           |codes AS (SELECT vec_id, mi, c FROM (SELECT vec_id, mi, c,
           |row_number() OVER (PARTITION BY vec_id, mi ORDER BY dd, c) AS rn
           |FROM dist) t WHERE rn = 1)""".stripMargin
    }

    /** The ADC fold, `adc(query_id, match_id, adc)`: per `cand` pair
      * and subspace, the squared L2 from the probe's subvector
      * (residualized against the candidate's cell centroid when
      * `residual`) to the candidate's codeword, summed in ascending
      * subspace order like the pq_adc kernel.
      */
    def adc(residual: Boolean): String = {
      val (x, centroid) =
        if (residual) (s"(q.l[co.mi*$SubDim + i] - ct.c[co.mi*$SubDim + i])",
          "\nJOIN cents ct ON ct.cell = cand.cell")
        else (s"q.l[co.mi*$SubDim + i]", "")
      s"""sub AS (SELECT cand.query_id, cand.match_id, co.mi,
         |${sqDist(x)} AS dd
         |FROM cand JOIN qs q ON q.vec_id = cand.query_id$centroid
         |JOIN codes co ON co.vec_id = cand.match_id
         |JOIN cb ON cb.mi = co.mi AND cb.c = co.c),
         |adc AS (SELECT query_id, match_id,
         |list_sum(list(dd ORDER BY mi)) AS adc
         |FROM sub GROUP BY query_id, match_id)""".stripMargin
    }

    /** The refine stage: `short`, the Refine·k best of `from` by ADC,
      * re-ranked by exact cosine into `ap`.
      */
    def rerank(from: String, dial: String = ""): String =
      top("short", from, "adc", Refine * AuditK, dial) + ",\n" +
        top("ap", "short JOIN pairs USING (query_id, match_id)", "sim", AuditK, dial)

    /** `lsh`: every exact pair with the Hamming distance between the two
      * sign-LSH buckets; the md5 hyperplanes are deterministic, so they
      * inline as literal DOUBLE arrays.
      */
    val Lsh: String = {
      val planes = Similarity.hyperplanes(LshPlanes, Dim)
      val bucket = planes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product(l, ${p.mkString("[", ",", "]")}) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""bk AS (SELECT vec_id, $bucket AS bucket
         |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS l FROM embeddings) e),
         |lsh AS (SELECT p.*, bit_count(xor(bq.bucket, bc.bucket)) AS dist FROM pairs p
         |JOIN bk bq ON bq.vec_id = p.query_id JOIN bk bc ON bc.vec_id = p.match_id)""".stripMargin
    }

    /** SQ8: `deq`, the corpus quantized to int8 and back (scale factored
      * as maxabs/127 exactly like the engine), and `sq8`, the probes'
      * cosines against it.
      */
    val Sq8: String =
      s"""deq AS (SELECT vec_id, CASE WHEN maxabs > 0
         |THEN list_transform(l, x -> round(x / maxabs * 127.0) * (maxabs / 127.0))
         |ELSE list_transform(l, x -> 0.0) END AS l
         |FROM (SELECT vec_id, l, list_max(list_transform(l, x -> abs(x))) AS maxabs FROM corp) t),
         |${cosine("sq8", "deq")}""".stripMargin

    /** The replay: `ctes` in order, then `select`. */
    def answer(ctes: String*)(select: String): String =
      ("WITH " + ctes.mkString(",\n") + "\n" + select).replace("\n", " ")

    /** `hits` of `ap` in `ex`, per probe (and `dial` tier). */
    private def hits(dial: String): String = {
      val d = if (dial.isEmpty) "" else s", ap.$dial"
      s"""hits AS (SELECT ex.query_id$d, count(*) AS n_hits
         |FROM ex JOIN ap ON ap.query_id = ex.query_id AND ap.match_id = ex.match_id
         |GROUP BY ex.query_id$d)""".stripMargin
    }

    /** A recall audit: per probe, recall@k of the approximate leg `ap`
      * that `ctes` build against the exact leg.
      */
    def audit(ctes: String*): String =
      answer(split() +: Exact +: ctes :+ hits(""): _*)(
        s"""SELECT q.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           |round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / ${AuditK.toDouble}, 4) AS recall_at_$AuditK
           |FROM (SELECT DISTINCT query_id FROM ex) q LEFT JOIN hits h USING (query_id)
           |ORDER BY query_id""".stripMargin)

    /** A recall curve: per tier of `dial` (the relation `dial` holds
      * `values`), the mean recall@k over probes of the approximate leg
      * `ap` that `ctes` build against the exact leg.
      */
    def curve(dial: String, values: Seq[Int])(ctes: String*): String =
      answer((split() +: Exact +:
        s"dial AS (SELECT unnest(${values.mkString("[", ", ", "]")}) AS $dial)" +: ctes) :+
        hits(dial) :+
        s"""grid AS (SELECT q.query_id, dial.$dial
           |FROM (SELECT DISTINCT query_id FROM ex) q CROSS JOIN dial)""".stripMargin: _*)(
        s"""SELECT CAST(g.$dial AS INTEGER) AS $dial,
           |CAST(count(*) AS BIGINT) AS n_queries,
           |round(CAST(sum(coalesce(h.n_hits, 0)) AS DOUBLE) /
           |CAST(count(*) * $AuditK AS DOUBLE), 4) AS mean_recall_at_$AuditK
           |FROM grid g LEFT JOIN hits h
           |ON h.query_id = g.query_id AND h.$dial = g.$dial
           |GROUP BY g.$dial ORDER BY $dial""".stripMargin)
  }

  // ---- the trained hashed-bucket classifier trio ----------------------
  // q_classifier_trained, q_classifier_holdout and
  // q_classifier_holdout_sketch share one feature projection, one
  // teacher-gated trainer and one confusion matrix, on both sides.

  /** Hash buckets of the trained classifier: its weight vector's width. */
  private val ClfBuckets = 4096

  /** Documents with the teacher feature `swr` (the stopword ratio) and,
    * when `split`, the leakage-safe `is_train` key (q_leakage_safe_split's
    * content hash, ~80% train). Persisted: every later pass re-reads it.
    */
  private def clfDocs(s: org.apache.spark.sql.SparkSession, d: String,
      split: Boolean): org.apache.spark.sql.DataFrame = {
    val toksArr = TextAnalysis.tokens(col("text"))
    val swr = (size(filter(toksArr,
      t => t.isin(TextAnalysis.StopwordsEn.map(lit): _*))).cast(DoubleType) /
      size(toksArr).cast(DoubleType)).as("swr")
    val isTrain = (Sampling.hashBucket(
      md5(TextAnalysis.normalizeText(col("text"))), 100) < 80).as("is_train")
    Tables.documents(s, d)
      .select(Seq(col("doc_id"), col("text"), swr) ++ (if (split) Seq(isTrain) else Nil): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The teacher gate: stopword ratio at or above `thr` (null → drop). */
  private def clfTeacher(thr: Any): org.apache.spark.sql.Column =
    coalesce(col("swr") >= thr, lit(false))

  /** The teacher at the exact interpolated P25 of `train`'s swr. */
  private def clfP25Teacher(train: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Column = {
    val thrRow = train.agg(expr("percentile(swr, 0.25)")).head()
    clfTeacher(if (thrRow.isNullAt(0)) null else thrRow.getDouble(0))
  }

  /** Fits the bucket weights against `teacher` over `train` (the
    * closed form q_classifier_trained describes): explode to (bucket,
    * ±1 label), map-side-combine to <= [[ClfBuckets]] rows, and collect
    * the model to the driver. Buckets unseen in `train` stay 0.0.
    */
  private def clfFit(train: org.apache.spark.sql.DataFrame,
      teacher: org.apache.spark.sql.Column): Array[Double] = {
    val occ = train
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("tok"),
        when(teacher, lit(1L)).otherwise(lit(-1L)).as("lab"))
      .select((conv(substring(md5(col("tok")), 1, 8), 16, 10)
        .cast(LongType) % ClfBuckets).as("b"), col("lab"))
    val w = new Array[Double](ClfBuckets)
    val rows = occ.groupBy(col("b"))
      .agg(sum(col("lab")).as("sl"), count(lit(1)).as("c"))
      .collect()
    // mean label, floored onto the 2^-31 grid: s/c is one
    // correctly-rounded division, *2^31 is exact (power of two),
    // floor and /2^31 are exact — both engines land on the
    // identical double. The global mean (class prior) rides the
    // same grid, so centered weights stay grid-exact.
    def grid(sl: Long, c: Long): Double =
      math.floor(sl.toDouble / c.toDouble * 2147483648.0) / 2147483648.0
    val (slAll, cAll) = rows.foldLeft((0L, 0L)) { case ((a, b), r) =>
      (a + r.getLong(1), b + r.getLong(2))
    }
    val g = if (cAll > 0) grid(slAll, cAll) else 0.0
    rows.foreach { r =>
      w(r.getLong(0).toInt) = grid(r.getLong(1), r.getLong(2)) - g
    }
    w
  }

  /** The trained-vs-teacher confusion matrix of `eval`, served through
    * the native margin kernel: (clf, heur, n_docs, mean_margin).
    */
  private def clfMatrix(eval: org.apache.spark.sql.DataFrame, w: Array[Double],
      teacher: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    eval
      .select(TextAnalysis.hashedClassifierMarginFrom(col("text"), w)
          .as("margin"),
        when(teacher, lit("keep")).otherwise(lit("drop")).as("heur"))
      .select(
        when(col("margin") > 0, lit("keep")).otherwise(lit("drop")).as("clf"),
        col("heur"),
        round(col("margin"), 9).cast("decimal(28,9)").as("m9"))
      .groupBy("clf", "heur")
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        round(sum(col("m9")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType), 5).as("mean_margin"))

  /** DuckDB replay of [[clfDocs]], opening the WITH list. */
  private def clfDocsSql(split: Boolean): String =
    s"""WITH docs AS (SELECT doc_id, text,
       |CAST(len(list_filter(string_split(text, ' '), t -> t IN (${inList(TextAnalysis.StopwordsEn)}))) AS DOUBLE)
       |/ CAST(len(string_split(text, ' ')) AS DOUBLE) AS swr""".stripMargin +
      (if (!split) ""
       else """,
              |CAST(concat('0x', substring(md5(md5(trim(
              |regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')
              |))), 1, 4)) AS BIGINT) % 100 < 80 AS is_train""".stripMargin) +
      " FROM documents),"

  /** DuckDB replay of [[clfFit]]: `occ` (doc, label, bucket) over the
    * labelled `lab` rows (train side only when `trainOnly`), the global
    * mean `g`, and the centered grid weights `w`.
    */
  private def clfFitSql(trainOnly: Boolean): String =
    s"""occ AS (SELECT doc_id, keep,
       |CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT) % $ClfBuckets AS b
       |FROM (SELECT doc_id, keep, unnest(string_split(lower(text), ' ')) AS tok FROM lab${if (trainOnly) " WHERE is_train" else ""})),
       |g AS (SELECT floor(CAST(sum(CASE WHEN keep THEN 1 ELSE -1 END) AS DOUBLE)
       |/ CAST(count(*) AS DOUBLE) * 2147483648.0) / 2147483648.0 AS gm FROM occ),
       |w AS (SELECT b, floor(CAST(sum(CASE WHEN keep THEN 1 ELSE -1 END) AS DOUBLE)
       |/ CAST(count(*) AS DOUBLE) * 2147483648.0) / 2147483648.0
       |- (SELECT gm FROM g) AS wt
       |FROM occ GROUP BY b),""".stripMargin

  /** DuckDB replay of [[clfMatrix]] over the margins `m` joined as `from`. */
  private def clfMatrixSql(from: String, extra: String = ""): String =
    s"""cells AS (SELECT CASE WHEN m.margin > 0 THEN 'keep' ELSE 'drop' END AS clf,
       |CASE WHEN lab.keep THEN 'keep' ELSE 'drop' END AS heur,
       |round(m.margin, 9) AS m9
       |FROM $from)
       |SELECT clf, heur, CAST(count(*) AS BIGINT) AS n_docs,
       |round(CAST(sum(CAST(m9 AS DECIMAL(28,9))) AS DOUBLE) / count(*), 5) AS mean_margin$extra
       |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Oracle of the two holdout forms: `thrCte` (may be empty) defines
    * the teacher threshold `thr` reads; the held-out margins serve
    * unseen buckets as 0.0 (a LEFT JOIN + coalesce, the kernel's
    * default); `extra` appends output columns.
    */
  private def clfHoldoutSql(thrCte: String, thr: String, extra: String = ""): String =
    (clfDocsSql(split = true) + s"""
       |${thrCte}lab AS (SELECT doc_id, text, is_train,
       |coalesce(swr >= $thr, FALSE) AS keep FROM docs),
       |${clfFitSql(trainOnly = true)}
       |etoks AS (SELECT doc_id,
       |CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT) % $ClfBuckets AS b
       |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM lab WHERE NOT is_train)),
       |m AS (SELECT etoks.doc_id, sum(coalesce(w.wt, 0.0)) / count(*) AS margin
       |FROM etoks LEFT JOIN w USING (b) GROUP BY etoks.doc_id),
       |${clfMatrixSql("lab JOIN m USING (doc_id) WHERE NOT lab.is_train", extra)}""".stripMargin)
      .replace("\n", " ")

  val all: Seq[Q] = Seq(

    // ---- Text analysis ---------------------------------------------------

    Q("q_token_count",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             |len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+')) AS n_subwords
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    Q("q_quality_score",
      (s, d) => {
        val feats = Tables.documents(s, d)
          .select(col("doc_id") +: TextAnalysis.qualityFeatures(col("text")): _*)
        feats.select(feats.columns.map {
          case c if feats.schema(c).dataType == DoubleType => round(col(c), 5).as(c)
          case c => col(c)
        }.toSeq: _*).orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
             |length(text) AS q_chars,
             |len(string_split(text, ' ')) AS q_tokens,
             |round(CAST(length(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE), 5) AS q_mean_tok_len,
             |round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE), 5) AS q_punct_ratio,
             |round(CAST(len(list_filter(string_split(text, ' '), t -> t IN (${inList(TextAnalysis.StopwordsEn)}))) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE), 5) AS q_stopword_ratio
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    Q("q_lang_id",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, CASE
             |WHEN n_en >= n_de AND n_en >= n_es THEN 'en'
             |WHEN n_de >= n_es THEN 'de' ELSE 'es' END AS lang_pred FROM (
             |SELECT doc_id,
             |len(list_filter(string_split(text, ' '), t -> t IN (${inList(TextAnalysis.StopwordsEn)}))) AS n_en,
             |len(list_filter(string_split(text, ' '), t -> t IN (${inList(TextAnalysis.MarkersDe)}))) AS n_de,
             |len(list_filter(string_split(text, ' '), t -> t IN (${inList(TextAnalysis.MarkersEs)}))) AS n_es
             |FROM documents) v ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Tokenizer fertility — the multilingual-pretraining diagnostic
    // (subword tokens per whitespace word), by (source, predicted
    // language): high-fertility slices pay more sequence length per
    // word, so per-language/per-domain token budgets (q_token_budget)
    // and mixture weights are sized off exactly this table.
    // corpus_fertility is the token-weighted ratio (exact: long sums
    // divided once); mean_doc_fertility the per-doc mean. One scan,
    // map-side-combined, (sources × languages)-sized output.
    Q("q_tokenizer_fertility",
      (s, d) => Tables.documents(s, d)
        .select(col("source"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.tokenCount(col("text")).as("w"),
          TextAnalysis.subwordCount(col("text")).as("sw"))
        .groupBy("source", "lang_pred")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("sw")).cast(DoubleType) / sum(col("w")).cast(DoubleType), 5)
            .as("corpus_fertility"),
          round(avg(col("sw").cast(DoubleType) / col("w").cast(DoubleType)), 5)
            .as("mean_doc_fertility"))
        .orderBy("source", "lang_pred"),
      Some(s"""WITH t AS (SELECT source,
             |len(string_split(text, ' ')) AS w,
             |len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+')) AS sw,
             |len(list_filter(string_split(text, ' '), x -> x IN (${inList(TextAnalysis.StopwordsEn)}))) AS n_en,
             |len(list_filter(string_split(text, ' '), x -> x IN (${inList(TextAnalysis.MarkersDe)}))) AS n_de,
             |len(list_filter(string_split(text, ' '), x -> x IN (${inList(TextAnalysis.MarkersEs)}))) AS n_es
             |FROM documents),
             |l AS (SELECT source, CASE WHEN n_en >= n_de AND n_en >= n_es THEN 'en'
             |WHEN n_de >= n_es THEN 'de' ELSE 'es' END AS lang_pred, w, sw FROM t)
             |SELECT source, lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
             |round(CAST(sum(sw) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 5) AS corpus_fertility,
             |round(avg(CAST(sw AS DOUBLE) / CAST(w AS DOUBLE)), 5) AS mean_doc_fertility
             |FROM l GROUP BY source, lang_pred ORDER BY source, lang_pred"""
        .stripMargin.replace("\n", " "))),

    // Zipf fit — the corpus-naturalness diagnostic: natural text's
    // rank-frequency curve is near power-law (slope ≈ −1 on log-log);
    // machine-generated spam, boilerplate floods, and template corpora
    // bend it, so the (slope, R²) pair is a one-row health gate a
    // curation pipeline checks per source/snapshot. One map-side-
    // combined word count, a distributed top-500 (TakeOrdered), a rank
    // window over the BOUNDED 500-row frame (the rrf-fusion precedent:
    // window above a limit barrier, never over the corpus), and a
    // 1-row regression aggregate.
    Q("q_zipf_fit",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("word").agg(count(lit(1)).as("freq"))
        val top = words.orderBy(col("freq").desc, col("word")).limit(500)
        top.withColumn("rank",
            row_number().over(Window.orderBy(col("freq").desc, col("word"))))
          .agg(
            round(regr_slope(log(col("freq")), log(col("rank"))), 5).as("zipf_slope"),
            round(regr_r2(log(col("freq")), log(col("rank"))), 5).as("fit_r2"),
            count(lit(1)).as("n_ranks"))
      },
      Some("""WITH w AS (SELECT word, count(*) AS freq FROM (
             |SELECT unnest(string_split(text, ' ')) AS word FROM documents) u
             |WHERE word <> '' GROUP BY word),
             |top AS (SELECT word, freq FROM w ORDER BY freq DESC, word LIMIT 500),
             |ranked AS (SELECT freq,
             |row_number() OVER (ORDER BY freq DESC, word) AS rank FROM top)
             |SELECT round(regr_slope(ln(freq), ln(rank)), 5) AS zipf_slope,
             |round(regr_r2(ln(freq), ln(rank)), 5) AS fit_r2,
             |CAST(count(*) AS BIGINT) AS n_ranks FROM ranked"""
        .stripMargin.replace("\n", " "))),

    // The Zipf gate's DISCRIMINATING POWER, pinned (r14): q_zipf_fit
    // honestly reads the synthetic fixture as non-Zipfian (slope −0.18,
    // R² 0.06) — which means the committed evidence never showed the
    // gate PASSING natural text. This runs the identical fit on two
    // halves side by side: a deterministically GENERATED Zipf(≈1)
    // word stream (inverse-CDF sampling with md5 uniforms — rank =
    // 1+⌊V^u⌋ gives P(rank=r) = ln(1+1/r)/ln V ∝ 1/r, the md5-rank
    // analog of q_weighted_sample's A-ES trick, replayable in SQL) and
    // the template fixture text. Natural half: slope ≈ −1, high R²;
    // template half: the flat slope — one query, both sides of the gate.
    Q("q_zipf_fit_gate",
      (s, d) => {
        def fit(words: org.apache.spark.sql.DataFrame, half: String) = {
          val freqs = words.filter(col("word") =!= "")
            .groupBy("word").agg(count(lit(1)).as("freq"))
          val top = freqs.orderBy(col("freq").desc, col("word")).limit(500)
          top.withColumn("rank",
              row_number().over(Window.orderBy(col("freq").desc, col("word"))))
            .agg(
              round(regr_slope(log(col("freq")), log(col("rank"))), 5).as("zipf_slope"),
              round(regr_r2(log(col("freq")), log(col("rank"))), 5).as("fit_r2"),
              count(lit(1)).as("n_ranks"))
            .select(lit(half).as("half"), col("zipf_slope"), col("fit_r2"),
              col("n_ranks"))
        }
        val docs = Tables.documents(s, d)
        // u ∈ [0,1) from the md5 prefix of (doc_id:i); 20 draws per doc
        val u = conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":"), col("i").cast("string"))), 1, 8), 16, 10)
          .cast("double") / lit(4294967296.0)
        val natural = docs
          .select(col("doc_id"), explode(sequence(lit(1), lit(20))).as("i"))
          .select(concat(lit("w"),
            // the +1e-9 bias (on BOTH engines) keeps the word id off the
            // floor boundary: 1000^u landing within an ulp of an integer
            // could otherwise round differently between Java Math.pow
            // and DuckDB's libm and flip one word across engines
            floor(pow(lit(1000.0), u) + lit(1e-9)).cast("long").cast("string")).as("word"))
        val template = docs.select(explode(split(col("text"), " ")).as("word"))
        fit(template, "template").unionAll(fit(natural, "zipfian"))
          .orderBy("half")
      },
      Some("""WITH nat AS (SELECT 'w' || CAST(CAST(floor(power(1000.0,
             |CAST(CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR),
             |':', CAST(i.i AS VARCHAR))), 1, 8)) AS BIGINT) AS DOUBLE)
             |/ 4294967296.0) + 1e-9) AS BIGINT) AS VARCHAR) AS word
             |FROM documents, range(1, 21) i(i)),
             |tmpl AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
             |natw AS (SELECT word, count(*) AS freq FROM nat WHERE word <> '' GROUP BY word),
             |tmplw AS (SELECT word, count(*) AS freq FROM tmpl WHERE word <> '' GROUP BY word),
             |natr AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, word) AS rank
             |FROM (SELECT word, freq FROM natw ORDER BY freq DESC, word LIMIT 500) t),
             |tmplr AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, word) AS rank
             |FROM (SELECT word, freq FROM tmplw ORDER BY freq DESC, word LIMIT 500) t),
             |natf AS (SELECT 'zipfian' AS half, round(regr_slope(ln(freq), ln(rank)), 5) AS zipf_slope,
             |round(regr_r2(ln(freq), ln(rank)), 5) AS fit_r2,
             |CAST(count(*) AS BIGINT) AS n_ranks FROM natr),
             |tmplf AS (SELECT 'template' AS half, round(regr_slope(ln(freq), ln(rank)), 5) AS zipf_slope,
             |round(regr_r2(ln(freq), ln(rank)), 5) AS fit_r2,
             |CAST(count(*) AS BIGINT) AS n_ranks FROM tmplr)
             |SELECT * FROM tmplf UNION ALL SELECT * FROM natf ORDER BY half"""
        .stripMargin.replace("\n", " "))),

    Q("q_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"),
          TextAnalysis.fingerprintRolling(col("text")).as("fp_roll"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             |md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp_md5,
             |list_reduce(list_prepend(CAST(0 AS BIGINT),
             |list_transform(string_split(text, ' '),
             |t -> CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT))),
             |(a, b) -> (a * 131 + b) % ${TextAnalysis.FingerprintPrime}) AS fp_roll
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Corpus word-frequency top-k: the canonical map-side-combinable
    // explode+count; at 100 TB one shuffle keyed by word, then a k-row
    // TakeOrderedAndProject merge.
    Q("q_word_topk",
      (s, d) => Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(20),
      Some("""SELECT w.word AS word, count(*) AS n
             |FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS word) w
             |GROUP BY w.word ORDER BY n DESC, word LIMIT 20""".stripMargin.replace("\n", " "))),

    // Per-document top-3 TF-IDF terms — corpus-wide term importance
    // (keyword extraction). Rounded before ranking on both sides so rank
    // order is engine-reproducible.
    Q("q_tfidf",
      (s, d) => TextAnalysis.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("term"), col("tfidf"))
        .orderBy("doc_id", "term"),
      Some("""WITH tok AS (SELECT doc_id, t.term FROM documents,
             |LATERAL (SELECT unnest(string_split(text, ' ')) AS term) t WHERE t.term <> ''),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
             |scored AS (SELECT doc_id, term,
             |round(CAST(tf AS DOUBLE) * ln(n.n / CAST(df AS DOUBLE)), 5) AS tfidf
             |FROM tf JOIN df USING (term) CROSS JOIN n),
             |ranked AS (SELECT doc_id, term, tfidf,
             |row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk FROM scored)
             |SELECT doc_id, term, tfidf FROM ranked WHERE rk <= 3
             |ORDER BY doc_id, term""".stripMargin.replace("\n", " "))),

    // BM25 lexical retrieval (X140): top-20 documents for a 4-term query
    // under the standard Robertson BM25 (k1=1.2, b=0.75) — the ranking
    // half of hybrid retrieval / topical-subset mining. The ONLY
    // data-scale shuffle is the query-term-filtered token stream (cost ∝
    // query-term occurrences, not corpus); df is |Q|-sized broadcast;
    // avgdl is an exact integer-sum ratio; per-term scores quantize to
    // 9 dp and DECIMAL-sum, so the hash matches DuckDB exactly. Every
    // float literal/fold appears in the SAME shape on both sides
    // ((1.2 + 1), 0.25, term order) — see TextAnalysis.bm25.
    Q("q_bm25",
      (s, d) => TextAnalysis.bm25(Tables.documents(s, d), "doc_id", "text",
          Seq("hash", "join", "merge", "vector"))
        .select(col("id").as("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20),
      Some("""WITH st AS (SELECT CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS sumdl,
             |CAST(count(*) AS DOUBLE) AS n FROM documents),
             |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
             |unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM tok
             |WHERE term IN ('hash', 'join', 'merge', 'vector') GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id, CAST(round(
             |ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0) * (tf.tf * (1.2 + 1)) /
             |(tf.tf + (0.25 + tf.dl * 0.75 / (st.sumdl / st.n)) * 1.2), 9)
             |AS DECIMAL(28,9)) AS ts
             |FROM tf JOIN df USING (term) CROSS JOIN st)
             |SELECT doc_id, CAST(round(CAST(sum(ts) AS DOUBLE), 6) AS DOUBLE) AS score
             |FROM sc GROUP BY doc_id
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin.replace("\n", " "))),

    // Reciprocal-rank fusion (X141): fuse the BM25 lexical ranking with
    // the unigram-LM fluency ranking — RRF(d) = Σ 1/(60 + rank_i(d)),
    // the standard score-free hybrid-retrieval combiner (ranks are
    // comparable when scores are not). SCALE SHAPE: each leg is a
    // distributed TakeOrdered top-100 (never a global row_number over
    // the corpus — the rank windows run over the BOUNDED 100-row
    // candidate lists), fused with one tiny full-outer join. Leg scores
    // are quantized before ranking (BM25 6 dp decimal-exact; LM 3 dp,
    // the q_unigram_lm-proven precision) with id tiebreaks, so ranks
    // are engine-reproducible; 1/(60+r) divides exact ints as DOUBLE on
    // both sides.
    Q("q_rrf_fusion",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val w = Window.orderBy(col("s").desc, col("id"))
        val bm = TextAnalysis.bm25(docs, "doc_id", "text",
            Seq("hash", "join", "merge", "vector"))
          .select(col("id"), round(col("score"), 6).as("s"))
          .orderBy(col("s").desc, col("id")).limit(100)
          .withColumn("r", row_number().over(w))
          .select(col("id"), (lit(1.0) / (col("r") + 60)).as("c1"))
        val lm = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
          .select(col("id"), round(col("mean_log2p"), 3).as("s"))
          .orderBy(col("s").desc, col("id")).limit(100)
          .withColumn("r", row_number().over(w))
          .select(col("id"), (lit(1.0) / (col("r") + 60)).as("c2"))
        bm.join(lm, Seq("id"), "full_outer")
          .select(col("id").as("doc_id"),
            round(coalesce(col("c1"), lit(0.0)) + coalesce(col("c2"), lit(0.0)), 8)
              .as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH st AS (SELECT CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS sumdl,
             |CAST(count(*) AS DOUBLE) AS n FROM documents),
             |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
             |unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM tok
             |WHERE term IN ('hash', 'join', 'merge', 'vector') GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id, CAST(round(
             |ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0) * (tf.tf * (1.2 + 1)) /
             |(tf.tf + (0.25 + tf.dl * 0.75 / (st.sumdl / st.n)) * 1.2), 9)
             |AS DECIMAL(28,9)) AS ts
             |FROM tf JOIN df USING (term) CROSS JOIN st),
             |bmtop AS (SELECT doc_id AS id,
             |CAST(round(CAST(sum(ts) AS DOUBLE), 6) AS DOUBLE) AS s
             |FROM sc GROUP BY doc_id ORDER BY s DESC, id LIMIT 100),
             |bm AS (SELECT id, CAST(1.0 AS DOUBLE) / (row_number() OVER
             |(ORDER BY s DESC, id) + 60) AS c1 FROM bmtop),
             |tok2 AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
             |FROM documents),
             |vocab AS (SELECT tok, count(*) AS cnt FROM tok2 GROUP BY tok),
             |tot AS (SELECT sum(cnt) AS total FROM vocab),
             |lmtop AS (SELECT id,
             |round(avg(log2(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))), 3) AS s
             |FROM tok2 JOIN vocab USING (tok) CROSS JOIN tot
             |GROUP BY id ORDER BY s DESC, id LIMIT 100),
             |lm AS (SELECT id, CAST(1.0 AS DOUBLE) / (row_number() OVER
             |(ORDER BY s DESC, id) + 60) AS c2 FROM lmtop)
             |SELECT coalesce(bm.id, lm.id) AS doc_id,
             |round(coalesce(c1, 0.0) + coalesce(c2, 0.0), 8) AS rrf
             |FROM bm FULL OUTER JOIN lm ON bm.id = lm.id
             |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin.replace("\n", " "))),

    // PII scrubbing (emails/URLs injected deterministically so the redact
    // path is actually exercised by the synthetic corpus).
    Q("q_pii_scrub",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.scrubPii(
            concat(col("source"), lit("@example.com http://x.io/"),
              col("doc_id").cast("string"), lit(" "), col("text"))).as("clean"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, regexp_replace(regexp_replace(
             |concat(source, '@example.com http://x.io/', CAST(doc_id AS VARCHAR), ' ', text),
             |'${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
             |'${TextAnalysis.UrlRe}', '<URL>', 'g') AS clean
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // PII scrubbing, full standard class set (r14): email, URL, IPv4,
    // phone, long digit runs — the CCNet/Dolma-style redaction pass.
    // Every class is injected deterministically from doc_id so the
    // corpus genuinely exercises each pattern; overlap policy (email/URL
    // swallow embedded digits, IP beats phone, phone beats the 9+-digit
    // fallback) is pinned in TextAnalysis.scrubPiiV2's scaladoc and
    // spec-cased on the literal boundary strings.
    Q("q_pii_scrub_v2",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.scrubPiiV2(concat(
            col("source"), lit("@mail.example.com call +1 (212) 555-0"),
            (col("doc_id") % 900 + 100).cast("string"),
            lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), ((col("doc_id") * 7) % 256).cast("string"),
            lit(" acct "), (col("doc_id") + 100000000L).cast("string"),
            lit(" "), col("text"))).as("clean"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
             |regexp_replace(regexp_replace(
             |concat(source, '@mail.example.com call +1 (212) 555-0',
             |CAST(doc_id % 900 + 100 AS VARCHAR),
             |' ip 10.0.', CAST(doc_id % 256 AS VARCHAR), '.',
             |CAST((doc_id * 7) % 256 AS VARCHAR),
             |' acct ', CAST(doc_id + 100000000 AS VARCHAR), ' ', text),
             |'${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
             |'${TextAnalysis.UrlRe}', '<URL>', 'g'),
             |'${TextAnalysis.IpRe}', '<IP>', 'g'),
             |'${TextAnalysis.PhoneRe}', '<PHONE>', 'g'),
             |'${TextAnalysis.LongDigitRe}', '<ID>', 'g') AS clean
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // PII density per source (r14) — the AUDIT companion of the scrub:
    // before a pipeline redacts, it needs to know how much of each class
    // each source carries (a source at 10× the corpus PII rate is a
    // leak, a scraper bug, or a list dump — reviewed, not just
    // scrubbed). Counts are taken on PROGRESSIVELY scrubbed text, in
    // scrubPiiV2's exact class order, so every occurrence is counted
    // once under the same overlap policy the redaction applies (an
    // email's digits never double-count as an ID; a URL-embedded phone
    // counts as URL). Single scan, map-side-combined; output is
    // source-sized.
    Q("q_pii_density",
      (s, d) => {
        val injected = concat(
          col("source"), lit("@mail.example.com see http://x.io/d"),
          col("doc_id").cast("string"),
          lit(" call +1 (212) 555-0"), (col("doc_id") % 900 + 100).cast("string"),
          lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") * 7) % 256).cast("string"),
          lit(" acct "), (col("doc_id") + 100000000L).cast("string"),
          lit(" "), col("text"))
        val staged = Tables.documents(s, d)
          .select(col("source"), injected.as("t"),
            TextAnalysis.tokenCount(injected).as("toks"))
          .withColumn("n_email", regexp_count(col("t"), lit(TextAnalysis.EmailRe)))
          .withColumn("t", regexp_replace(col("t"), TextAnalysis.EmailRe, "<EMAIL>"))
          .withColumn("n_url", regexp_count(col("t"), lit(TextAnalysis.UrlRe)))
          .withColumn("t", regexp_replace(col("t"), TextAnalysis.UrlRe, "<URL>"))
          .withColumn("n_ip", regexp_count(col("t"), lit(TextAnalysis.IpRe)))
          .withColumn("t", regexp_replace(col("t"), TextAnalysis.IpRe, "<IP>"))
          .withColumn("n_phone", regexp_count(col("t"), lit(TextAnalysis.PhoneRe)))
          .withColumn("t", regexp_replace(col("t"), TextAnalysis.PhoneRe, "<PHONE>"))
          .withColumn("n_id", regexp_count(col("t"), lit(TextAnalysis.LongDigitRe)))
        staged.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_email")).as("emails"), sum(col("n_url")).as("urls"),
            sum(col("n_ip")).as("ips"), sum(col("n_phone")).as("phones"),
            sum(col("n_id")).as("long_ids"),
            round(sum(col("n_email") + col("n_url") + col("n_ip") +
                col("n_phone") + col("n_id")).cast(DoubleType) * 1000.0 /
              sum(col("toks")).cast(DoubleType), 4).as("pii_per_kilotoken"))
          .orderBy("source")
      },
      Some(s"""WITH inj AS (SELECT source,
             |concat(source, '@mail.example.com see http://x.io/d', CAST(doc_id AS VARCHAR),
             |' call +1 (212) 555-0', CAST(doc_id % 900 + 100 AS VARCHAR),
             |' ip 10.0.', CAST(doc_id % 256 AS VARCHAR), '.',
             |CAST((doc_id * 7) % 256 AS VARCHAR),
             |' acct ', CAST(doc_id + 100000000 AS VARCHAR), ' ', text) AS t
             |FROM documents),
             |s1 AS (SELECT source, len(string_split(t, ' ')) AS toks,
             |len(regexp_extract_all(t, '${TextAnalysis.EmailRe}')) AS n_email,
             |regexp_replace(t, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g') AS t1 FROM inj),
             |s2 AS (SELECT source, toks, n_email,
             |len(regexp_extract_all(t1, '${TextAnalysis.UrlRe}')) AS n_url,
             |regexp_replace(t1, '${TextAnalysis.UrlRe}', '<URL>', 'g') AS t2 FROM s1),
             |s3 AS (SELECT source, toks, n_email, n_url,
             |len(regexp_extract_all(t2, '${TextAnalysis.IpRe}')) AS n_ip,
             |regexp_replace(t2, '${TextAnalysis.IpRe}', '<IP>', 'g') AS t3 FROM s2),
             |s4 AS (SELECT source, toks, n_email, n_url, n_ip,
             |len(regexp_extract_all(t3, '${TextAnalysis.PhoneRe}')) AS n_phone,
             |regexp_replace(t3, '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS t4 FROM s3),
             |s5 AS (SELECT source, toks, n_email, n_url, n_ip, n_phone,
             |len(regexp_extract_all(t4, '${TextAnalysis.LongDigitRe}')) AS n_id FROM s4)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |CAST(sum(n_email) AS BIGINT) AS emails, CAST(sum(n_url) AS BIGINT) AS urls,
             |CAST(sum(n_ip) AS BIGINT) AS ips, CAST(sum(n_phone) AS BIGINT) AS phones,
             |CAST(sum(n_id) AS BIGINT) AS long_ids,
             |round(CAST(sum(n_email + n_url + n_ip + n_phone + n_id) AS DOUBLE) * 1000.0
             |/ CAST(sum(toks) AS DOUBLE), 4) AS pii_per_kilotoken
             |FROM s5 GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "))),

    // Document-length histogram (100-char buckets).
    Q("q_len_histogram",
      (s, d) => Tables.documents(s, d)
        .groupBy((floor(col("n_chars") / 100) * 100).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
      Some("""SELECT (n_chars // 100) * 100 AS bucket, count(*) AS n
             |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin.replace("\n", " "))),

    // Percentile-based quality cutoff: keep documents at/above the p25
    // stopword-ratio bar — the canonical corpus-filtering shape (scalar
    // subquery threshold; exact interpolated percentile on both engines).
    Q("q_quality_filter",
      (s, d) => {
        val feats = Tables.documents(s, d).select(col("doc_id"),
          (size(filter(TextAnalysis.tokens(col("text")),
            t => t.isin(TextAnalysis.StopwordsEn.map(lit): _*))).cast("double") /
            size(TextAnalysis.tokens(col("text"))).cast("double")).as("swr"))
        // percentile over an EMPTY corpus is NULL (a dead tenant must
        // yield 0 rows, not a ROW_VALUE_IS_NULL throw); swr >= NULL is
        // never true, matching the oracle's NULL-subquery comparison
        val thrRow = feats.agg(expr("percentile(swr, 0.25)")).head()
        val thr: Any = if (thrRow.isNullAt(0)) null else thrRow.getDouble(0)
        feats.filter(col("swr") >= thr)
          .select(col("doc_id"), round(col("swr"), 5).as("swr"))
          .orderBy("doc_id")
      },
      Some(s"""WITH feats AS (SELECT doc_id,
             |CAST(len(list_filter(string_split(text, ' '), t -> t IN (${inList(TextAnalysis.StopwordsEn)}))) AS DOUBLE)
             |/ CAST(len(string_split(text, ' ')) AS DOUBLE) AS swr FROM documents)
             |SELECT doc_id, round(swr, 5) AS swr FROM feats
             |WHERE swr >= (SELECT quantile_cont(swr, 0.25) FROM feats)
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Model-based quality gate: hashed-linear-classifier margin + the
    // keep/drop decision (TextAnalysis.hashedClassifierMargin — the
    // fastText/DCLM serving shape; deterministic stand-in weights, see
    // the op scaladoc for the exact-arithmetic argument: the margin is
    // bit-identical across engines, no round() absorption needed). One
    // codegen'd scan, no shuffle, source-sized output.
    Q("q_quality_classifier",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.hashedClassifierMargin(col("text")).as("margin"))
        .select(col("doc_id"), col("n_tokens"), col("margin"),
          when(col("margin").isNull, lit(null).cast("string"))
            .when(col("margin") > 0, lit("keep"))
            .otherwise(lit("drop")).as("label"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, n_tokens, margin, CASE
             |WHEN margin IS NULL THEN NULL
             |WHEN margin > 0 THEN 'keep' ELSE 'drop' END AS label FROM (
             |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             |list_sum(list_transform(toks, t ->
             |CAST(concat('0x', substring(md5(concat('qclf:', CAST(CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT) % 4096 AS VARCHAR))), 1, 8)) AS BIGINT)
             |/ 4294967296.0 * 2.0 - 1.0))
             |/ CAST(len(toks) AS DOUBLE) AS margin
             |FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents) v) w
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Classifier-vs-heuristic calibration: the 2×2 confusion matrix
    // between the model gate (margin > 0) and the production heuristic
    // gate (stopword ratio ≥ corpus P25, exactly q_quality_filter's
    // predicate), with each cell's doc count and mean margin — the audit
    // a team runs BEFORE swapping a trained classifier into the keep/
    // drop slot (cells where the gates disagree are the review queue).
    // Cross-row mean goes through the BM25 decimal idiom (round-9 →
    // DECIMAL sum, one double division): a plain double mean would be
    // partition-order-dependent. The feature frame (3 narrow columns)
    // is persisted so ONE tokenize+stopword pass serves the threshold
    // agg, the sketch-disagreement count, and the matrix — the
    // tokenize scan is the dominant cost, not the percentile.
    //
    // The 100 TB swap is REAL here, not a comment: the same agg
    // computes approx_percentile (GK sketch, bounded state — exact
    // percentile's state is every distinct value) and the output
    // carries `sketch_within_bound`: whether the number of docs whose
    // heuristic gate FLIPS between the exact and sketch thresholds
    // stays within the sketch's rank-error guarantee (≤ 2n/accuracy,
    // floored at 3 for tiny fixtures). The oracle pins TRUE — the
    // q_approx_distinct move, collapsing sketch merge-order
    // nondeterminism into an invariant the gate still checks. At
    // 100 TB drop the exact anchor column and gate on the sketch; the
    // bound column is the evidence that swap is safe.
    Q("q_classifier_calibration",
      (s, d) => {
        val toksArr = TextAnalysis.tokens(col("text"))
        val accuracy = 10000
        val feats = Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.hashedClassifierMargin(col("text")).as("margin"),
          (size(filter(toksArr,
            t => t.isin(TextAnalysis.StopwordsEn.map(lit): _*))).cast(DoubleType) /
            size(toksArr).cast(DoubleType)).as("swr"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // empty-corpus percentile is NULL (same contract as
        // q_quality_filter): >= NULL is never true, both gates read
        // 'drop', and the rollup of zero rows is zero rows
        val t = feats.agg(expr("percentile(swr, 0.25)"),
          expr(s"approx_percentile(swr, 0.25, $accuracy)"),
          count(lit(1))).head()
        val thr: Any = if (t.isNullAt(0)) null else t.getDouble(0)
        val thrS: Any = if (t.isNullAt(1)) null else t.getDouble(1)
        val n = t.getLong(2)
        def gate(th: Any) = coalesce(col("swr") >= th, lit(false))
        val flips = if (t.isNullAt(0) || t.isNullAt(1)) 0L
          else feats.filter(gate(thr) =!= gate(thrS)).count()
        val ok = flips.toDouble <= math.max(3.0, 2.0 * n / accuracy)
        val out = feats
          .select(
            when(col("margin") > 0, lit("keep")).otherwise(lit("drop")).as("clf"),
            when(col("swr") >= thr, lit("keep")).otherwise(lit("drop")).as("heur"),
            round(col("margin"), 9).cast("decimal(28,9)").as("m9"))
          .groupBy("clf", "heur")
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            round(sum(col("m9")).cast(DoubleType) /
              count(lit(1)).cast(DoubleType), 5).as("mean_margin"))
          .select(col("clf"), col("heur"), col("n_docs"), col("mean_margin"),
            round(lit(thr).cast(DoubleType), 6).as("thr_exact"),
            lit(ok).as("sketch_within_bound"))
          .orderBy("clf", "heur")
        Dedup.eagerly(out, feats)
      },
      Some(s"""WITH feats AS (SELECT doc_id,
             |list_sum(list_transform(string_split(lower(text), ' '), t ->
             |CAST(concat('0x', substring(md5(concat('qclf:', CAST(CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT) % 4096 AS VARCHAR))), 1, 8)) AS BIGINT)
             |/ 4294967296.0 * 2.0 - 1.0))
             |/ CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS margin,
             |CAST(len(list_filter(string_split(text, ' '), t -> t IN (${inList(TextAnalysis.StopwordsEn)}))) AS DOUBLE)
             |/ CAST(len(string_split(text, ' ')) AS DOUBLE) AS swr FROM documents)
             |SELECT CASE WHEN margin > 0 THEN 'keep' ELSE 'drop' END AS clf,
             |CASE WHEN swr >= (SELECT quantile_cont(swr, 0.25) FROM feats) THEN 'keep' ELSE 'drop' END AS heur,
             |CAST(count(*) AS BIGINT) AS n_docs,
             |round(CAST(sum(CAST(round(margin, 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*), 5) AS mean_margin,
             |round((SELECT quantile_cont(swr, 0.25) FROM feats), 6) AS thr_exact,
             |TRUE AS sketch_within_bound
             |FROM feats GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " "))),

    // The classifier loop CLOSED with genuinely trained weights: fit
    // hashed-bucket coefficients against an in-engine teacher (the
    // stopword-ratio >= P25 heuristic gate — q_quality_filter's
    // predicate), serve them through the SAME native kernel the
    // stand-in table rides, and emit the trained-vs-teacher confusion
    // matrix. The trainer is the one-scan closed form a hashed linear
    // model admits: each token occurrence carries its doc's ±1 teacher
    // label; a bucket's weight is the mean label over its occurrences
    // CENTERED on the global mean label (the centroid estimate minus
    // the class prior — without the centering a 75%-keep teacher makes
    // every bucket positive and the gate degenerates to all-keep),
    // each term QUANTIZED onto the exact 2⁻³¹ grid (floor, matching
    // the oracle's floor()) — fixed-point int32 shipping, which keeps
    // every per-doc weight sum exact and order-free, so the served
    // margin is bit-identical between the kernel's token-order fold
    // and the oracle's unordered explode-join sum. Unlike X170's
    // deliberate 75% disagreement (random stand-ins vs the heuristic),
    // the trained matrix shows real agreement — the diagonal carries
    // the corpus (spec-pinned).
    //
    // Scale shape: scan 1 builds the teacher features (persisted, 3
    // narrow columns); a 1-row percentile agg; scan 2 is the training
    // pass — explode to (bucket, label) and map-side-combine down to
    // <= 4096 rows (the vocabulary-shuffle floor at classifier width);
    // the weights collect to the driver (4096 doubles — the model IS
    // driver-sized) and serve as one codegen'd scan 3.
    Q("q_classifier_trained",
      (s, d) => {
        val docs = clfDocs(s, d, split = false)
        val teacher = clfP25Teacher(docs)
        Dedup.eagerly(clfMatrix(docs, clfFit(docs, teacher), teacher)
          .orderBy("clf", "heur"), docs)
      },
      Some((clfDocsSql(split = false) + s"""
             |lab AS (SELECT doc_id, text,
             |coalesce(swr >= (SELECT quantile_cont(swr, 0.25) FROM docs), FALSE) AS keep FROM docs),
             |${clfFitSql(trainOnly = false)}
             |m AS (SELECT occ.doc_id, sum(w.wt) / count(*) AS margin
             |FROM occ JOIN w USING (b) GROUP BY occ.doc_id),
             |${clfMatrixSql("lab LEFT JOIN m USING (doc_id)")}""".stripMargin)
        .replace("\n", " "))),

    // The trained classifier evaluated HONESTLY: q_classifier_trained
    // fits and scores on the same corpus (resubstitution — the matrix
    // flatters the model). Here the corpus splits leakage-safely
    // (q_leakage_safe_split's content-hash key, so a normalization-level
    // duplicate can never straddle the boundary), the teacher threshold
    // AND the weights come from the TRAIN side only, and the confusion
    // matrix is computed over the held-out ~20% — documents provably
    // disjoint from training (ExtensionsSpec pins the disjointness).
    // Held-out tokens hashing to buckets unseen in training serve weight
    // 0.0 (the kernel's default), which the oracle replays as a LEFT
    // JOIN + coalesce — margins stay bit-identical because every weight
    // sits on the 2^-31 grid (the q_classifier_trained contract).
    //
    // Scale shape: same as q_classifier_trained — the split predicate is
    // a narrow projection (no shuffle), training shuffles <= 4096
    // map-side-combined rows, the model collects at driver (4,096
    // doubles), and evaluation is one codegen'd scan of the holdout.
    Q("q_classifier_holdout",
      (s, d) => {
        val all = clfDocs(s, d, split = true)
        val train = all.filter(col("is_train"))
        val teacher = clfP25Teacher(train)
        Dedup.eagerly(clfMatrix(all.filter(!col("is_train")), clfFit(train, teacher), teacher)
          .orderBy("clf", "heur"), all)
      },
      Some(clfHoldoutSql("", "(SELECT quantile_cont(swr, 0.25) FROM docs WHERE is_train)"))),

    // q_classifier_holdout's 100 TB form: the train-side teacher
    // threshold — the one remaining exact `percentile` on a corpus-∝
    // path in the classifier loop — swapped for approx_percentile (GK
    // sketch, bounded state, map-side combinable), with the
    // q_classifier_calibration evidence pattern riding along:
    // `sketch_within_bound` pins that the number of TRAIN docs whose
    // teacher gate flips between the sketch threshold and the exact
    // DISCRETE-rank anchor (percentile_disc — the same rank query the
    // sketch answers) stays within the sketch's rank-error guarantee.
    // Below the sketch's compression onset (train count < accuracy —
    // both gate scales qualify) the GK query provably returns the value
    // at 1-based rank ⌈0.25·n⌉ of the sorted train side — identical to
    // percentile_disc, so the matrix is UNCHANGED under the sketch swap
    // (ExtensionsSpec pins both: thrS == thrD and the matrix/totals).
    // The interpolated `percentile` of q_classifier_holdout is a
    // different QUARTILE CONVENTION (it answers a value no rank holds);
    // the two matrices may differ by the documents tied at the boundary
    // rank — a teacher-definition choice, not sketch error. The oracle
    // replays the rank pick (row_number = ⌈0.25·n⌉), NOT quantile_cont.
    // At 100 TB drop the anchor column: teacher labels, trained
    // weights, AND the holdout matrix already gate on the sketch alone.
    Q("q_classifier_holdout_sketch",
      (s, d) => {
        val accuracy = 10000
        val all = clfDocs(s, d, split = true)
        val train = all.filter(col("is_train"))
        val t = train.agg(
          expr(s"approx_percentile(swr, 0.25, $accuracy)"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY swr)"),
          count(lit(1))).head()
        val thrS: Any = if (t.isNullAt(0)) null else t.getDouble(0)
        val thrD: Any = if (t.isNullAt(1)) null else t.getDouble(1)
        val nTrain = t.getLong(2)
        val flips = if (t.isNullAt(0) || t.isNullAt(1)) 0L
          else train.filter(clfTeacher(thrS) =!= clfTeacher(thrD)).count()
        val ok = flips.toDouble <= math.max(3.0, 2.0 * nTrain / accuracy)
        val teacher = clfTeacher(thrS)
        Dedup.eagerly(clfMatrix(all.filter(!col("is_train")), clfFit(train, teacher), teacher)
          .select(col("clf"), col("heur"), col("n_docs"), col("mean_margin"),
            lit(ok).as("sketch_within_bound"))
          .orderBy("clf", "heur"), all)
      },
      Some(clfHoldoutSql(
        """thr AS (SELECT swr FROM
          |(SELECT swr, row_number() OVER (ORDER BY swr) AS rk FROM docs WHERE is_train) r
          |WHERE rk = CAST(ceil(0.25 * (SELECT count(*) FROM docs WHERE is_train)) AS BIGINT)),
          |""".stripMargin,
        "(SELECT swr FROM thr)", ",\nTRUE AS sketch_within_bound"))),

    // Intra-document repetition ratio (duplicate word 3-grams / total) —
    // the "repetitious text" quality signal; narrow array projection,
    // no explode, no shuffle.
    Q("q_repetition",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          round(TextAnalysis.repetitionRatio(col("text")), 5).as("rep_ratio"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CASE WHEN len(sh) > 0
             |THEN round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 5)
             |ELSE NULL END AS rep_ratio FROM (
             |SELECT doc_id, list_transform(range(1, len(w) - 1),
             |i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS sh FROM (
             |SELECT doc_id, string_split(text, ' ') AS w FROM documents) t) s
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Gopher/MassiveText repetition quality gate: duplicate-segment
    // fractions (count + char mass over ". "-segments) and top/duplicated
    // word-bigram character fractions, all from ONE native fused pass
    // (graft.functions.RepetitionStats — no explode, no shuffle; the
    // oracle reproduces the same integer-ratio definitions relationally).
    Q("q_repetition_stats",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.RepetitionStats(col("text"), n = 2).as("rs"))
        .select(col("doc_id"),
          round(element_at(col("rs"), 1), 5).as("dup_segment_frac"),
          round(element_at(col("rs"), 2), 5).as("dup_segment_char_frac"),
          round(element_at(col("rs"), 3), 5).as("top_ngram_char_frac"),
          round(element_at(col("rs"), 4), 5).as("dup_ngram_char_frac"))
        .orderBy("doc_id"),
      Some("""WITH segc AS (
             |SELECT doc_id, seg, count(*) AS c, length(seg) AS l FROM (
             |SELECT doc_id, unnest(string_split(text, '. ')) AS seg FROM documents) s
             |GROUP BY doc_id, seg),
             |sega AS (SELECT doc_id, sum(c) AS occ,
             |sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS dup_occ,
             |sum(l * c) AS tot_chars,
             |sum(CASE WHEN c > 1 THEN l * c ELSE 0 END) AS dup_chars
             |FROM segc GROUP BY doc_id),
             |gramc AS (
             |SELECT doc_id, g, count(*) AS c, length(g) AS l FROM (
             |SELECT doc_id, w[i] || ' ' || w[i+1] AS g
             |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) words,
             |LATERAL (SELECT unnest(range(1, len(w))) AS i) t) g0
             |GROUP BY doc_id, g),
             |gramtop AS (SELECT doc_id, l * c AS topchars FROM (
             |SELECT doc_id, c, l, row_number() OVER (
             |PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rk FROM gramc) r
             |WHERE rk = 1),
             |gramdup AS (SELECT doc_id,
             |sum(CASE WHEN c > 1 THEN l * c ELSE 0 END) AS dupchars
             |FROM gramc GROUP BY doc_id)
             |SELECT d.doc_id,
             |round(CAST(sa.dup_occ AS DOUBLE) / sa.occ, 5) AS dup_segment_frac,
             |round(CASE WHEN sa.tot_chars = 0 THEN 0
             |ELSE CAST(sa.dup_chars AS DOUBLE) / sa.tot_chars END, 5) AS dup_segment_char_frac,
             |round(coalesce(CAST(gt.topchars AS DOUBLE) / NULLIF(length(d.text), 0), 0), 5)
             |AS top_ngram_char_frac,
             |round(coalesce(CAST(gd.dupchars AS DOUBLE) / NULLIF(length(d.text), 0), 0), 5)
             |AS dup_ngram_char_frac
             |FROM documents d
             |JOIN sega sa USING (doc_id)
             |LEFT JOIN gramtop gt USING (doc_id)
             |LEFT JOIN gramdup gd USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin.replace("\n", " "))),

    // Per-language token-length percentiles — the length-filter
    // calibration query every corpus data card carries. The SCALE path is
    // approx_percentile (fixed-size sketch, map-side combinable); the
    // exact interpolated percentile is computed alongside as the oracle
    // anchor (DuckDB quantile_cont uses the same p*(n-1) linear
    // interpolation) plus a bound check that the sketch honored its rank
    // accuracy — the q_approx_distinct pattern applied to percentiles.
    Q("q_length_percentiles",
      (s, d) => Tables.documents(s, d)
        .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(percentile(col("n_tok"), lit(0.5)), 4).as("p50_tokens"),
          round(percentile(col("n_tok"), lit(0.9)), 4).as("p90_tokens"),
          percentile_approx(col("n_tok"), lit(0.5), lit(10000)).as("__ap50"))
        .select(col("lang"), col("n_docs"), col("p50_tokens"), col("p90_tokens"),
          (abs(col("__ap50") - col("p50_tokens")) <= 2.0).as("approx_within_bound"))
        .orderBy("lang"),
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |round(quantile_cont(len(string_split(text, ' ')), 0.5), 4) AS p50_tokens,
             |round(quantile_cont(len(string_split(text, ' ')), 0.9), 4) AS p90_tokens,
             |TRUE AS approx_within_bound
             |FROM documents GROUP BY lang
             |ORDER BY lang""".stripMargin.replace("\n", " "))),

    // Greedy corpus selection under a per-language token budget: rank by
    // quality (stopword ratio) descending, keep documents while the
    // running token total stays within budget. One window cumsum per
    // language partition — at 100 TB this is a range-partitioned sort per
    // lang, no global sort, no driver loop; the budget check is a filter
    // on the windowed column.
    Q("q_token_budget",
      (s, d) => {
        val toksArr = TextAnalysis.tokens(col("text"))
        val f = Tables.documents(s, d).select(col("doc_id"), col("lang"),
          size(toksArr).cast(LongType).as("n_tok"),
          (size(filter(toksArr, t => t.isin(TextAnalysis.StopwordsEn.map(lit): _*))).cast(DoubleType) /
            size(toksArr).cast(DoubleType)).as("swr"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("swr").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        f.withColumn("cum_tokens", sum(col("n_tok")).over(w))
          .filter(col("cum_tokens") <= 2000L)
          .select(col("doc_id"), col("lang"), col("n_tok"),
            round(col("swr"), 5).as("quality"), col("cum_tokens"))
          .orderBy(col("lang"), col("cum_tokens"), col("doc_id"))
      },
      Some(s"""WITH f AS (SELECT doc_id, lang,
             |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             |CAST(len(list_filter(string_split(text, ' '), t -> t IN (${inList(TextAnalysis.StopwordsEn)}))) AS DOUBLE)
             |/ CAST(len(string_split(text, ' ')) AS DOUBLE) AS swr FROM documents),
             |c AS (SELECT *, CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY swr DESC, doc_id ASC
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM f)
             |SELECT doc_id, lang, n_tok, round(swr, 5) AS quality, cum_tokens FROM c
             |WHERE cum_tokens <= 2000 ORDER BY lang, cum_tokens, doc_id""".stripMargin.replace("\n", " "))),

    // CCNet-style OUT-OF-DOMAIN quality filter: train an add-one-smoothed
    // unigram LM on ONE trusted source's documents, score every OTHER
    // source's documents by cross-entropy under it (the "web text scored
    // under a Wikipedia LM" shape — q_unigram_lm is the in-domain,
    // unsmoothed sibling). Unseen tokens exercise the smoothing path:
    // logp = log2(1/(n+v)) via LEFT join + coalesce. Reference-LM counts
    // are one vocab-sized shuffle; scoring is a broadcast LEFT join
    // (vocab << corpus) + partial-aggregated per-doc reduce. Both
    // engines quantize log2 to 8 decimals and CAST TO DECIMAL BEFORE
    // summing, so summation order and 1-ulp libm differences cannot
    // perturb the hash (decimal addition is exact, order-independent).
    Q("q_doc_perplexity",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val refToks = docs.filter(col("source") === "src0")
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        val vocab = refToks.groupBy("tok").agg(count(lit(1)).as("c"))
        val totals = vocab.agg(sum("c").as("n"), count(lit(1)).as("v"))
        val lm = vocab.crossJoin(broadcast(totals))
          .select(col("tok"),
            round(log2((col("c") + 1).cast(DoubleType) / (col("n") + col("v")).cast(DoubleType)), 8)
              .cast("decimal(18,8)").as("logp"))
        val unseen = totals.select(
          round(log2(lit(1.0) / (col("n") + col("v")).cast(DoubleType)), 8)
            .cast("decimal(18,8)").as("logp_unseen"))
        val eval = docs.filter(col("source") =!= "src0")
          .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        eval.join(broadcast(lm), Seq("tok"), "left")
          .crossJoin(broadcast(unseen))
          .withColumn("lp", coalesce(col("logp"), col("logp_unseen")))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast(LongType).as("n_tok"),
            round(-sum(col("lp")), 6).cast(DoubleType).as("xent_bits"))
          .orderBy("doc_id")
      },
      Some("""WITH rtoks AS (SELECT unnest(string_split(text, ' ')) AS tok
             |FROM documents WHERE source = 'src0'),
             |vocab AS (SELECT tok, count(*) AS c FROM rtoks GROUP BY tok),
             |totals AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM vocab),
             |lm AS (SELECT tok,
             |CAST(round(log2(CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE)), 8) AS DECIMAL(18,8)) AS logp
             |FROM vocab, totals),
             |unseen AS (SELECT CAST(round(log2(1.0 / CAST(n + v AS DOUBLE)), 8) AS DECIMAL(18,8)) AS lp0
             |FROM totals),
             |etoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |FROM documents WHERE source <> 'src0')
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             |CAST(round(-sum(coalesce(lm.logp, unseen.lp0)), 6) AS DOUBLE) AS xent_bits
             |FROM etoks LEFT JOIN lm USING (tok) CROSS JOIN unseen
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Temperature-scaled mixture weights per source (w_i = p_i^T / Z,
    // T=0.7) — the sampling-weight calculation behind every multi-domain
    // pretraining mix. Two tiny aggregates (sources << corpus) over one
    // token-count scan; pow() outputs are quantized to 10 decimals and
    // decimal-summed so Z is bit-identical across engines.
    Q("q_mixture_temperature",
      (s, d) => {
        val bySrc = Tables.documents(s, d)
          .select(col("source"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        val tot = bySrc.agg(sum("n_tokens").as("total"))
        val scaled = bySrc.crossJoin(broadcast(tot))
          .withColumn("w_raw",
            round(pow(col("n_tokens").cast(DoubleType) / col("total").cast(DoubleType), 0.7), 10)
              .cast("decimal(20,10)"))
        val z = scaled.agg(sum("w_raw").as("z"))
        scaled.crossJoin(broadcast(z))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            round(col("w_raw").cast(DoubleType) / col("z").cast(DoubleType), 6).as("weight"))
          .orderBy("source")
      },
      Some("""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |FROM documents GROUP BY source),
             |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM s),
             |sc AS (SELECT source, n_docs, n_tokens,
             |CAST(round(pow(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE), 0.7), 10) AS DECIMAL(20,10)) AS w_raw
             |FROM s, tot),
             |z AS (SELECT sum(w_raw) AS z FROM sc)
             |SELECT source, n_docs, n_tokens,
             |round(CAST(w_raw AS DOUBLE) / CAST(z AS DOUBLE), 6) AS weight
             |FROM sc, z ORDER BY source""".stripMargin.replace("\n", " "))),

    // Epoch/repetition planner — the "how many times may each source
    // repeat" decision (Muennighoff et al. 2023: ~4 epochs before
    // repeated data stops helping) for an equal-share mixture under a
    // fixed token budget (4× the corpus here, sized so the fixture
    // exercises BOTH branches: small sources hit the cap and shortfall,
    // large ones repeat uncapped). Per source: requested tokens =
    // budget / n_sources, uncapped epochs = requested / available,
    // deployed epochs = min(4, uncapped), realized tokens and the
    // shortfall the mixture designer must re-weight around. Arithmetic
    // is single IEEE ops on exact integer-derived doubles in the SAME
    // order both engines — two tiny (sources-sized) aggregates, one
    // broadcast, no corpus rescan.
    Q("q_epoch_plan",
      (s, d) => {
        val bySrc = Tables.documents(s, d)
          .select(col("source"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
          .groupBy("source").agg(sum("n_tok").as("avail_tokens"))
        val tot = bySrc.agg(sum("avail_tokens").as("total"),
          count(lit(1)).as("n_src"))
        val req = lit(4.0) * col("total").cast(DoubleType) /
          col("n_src").cast(DoubleType)
        val availD = col("avail_tokens").cast(DoubleType)
        val epochsUnc = req / availD
        val epochs = least(lit(4.0), epochsUnc)
        bySrc.crossJoin(broadcast(tot))
          .select(col("source"), col("avail_tokens"),
            round(req, 2).as("requested_tokens"),
            round(epochsUnc, 5).as("epochs_uncapped"),
            round(epochs, 5).as("epochs"),
            round(epochs * availD, 2).as("realized_tokens"),
            round(greatest(lit(0.0), req - epochs * availD), 2)
              .as("shortfall_tokens"))
          .orderBy("source")
      },
      Some("""WITH s AS (SELECT source,
             |CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
             |FROM documents GROUP BY source),
             |t AS (SELECT CAST(sum(avail) AS BIGINT) AS total,
             |CAST(count(*) AS BIGINT) AS n_src FROM s),
             |v AS (SELECT source, avail,
             |4.0 * CAST(total AS DOUBLE) / CAST(n_src AS DOUBLE) AS req
             |FROM s, t)
             |SELECT source, avail AS avail_tokens,
             |round(req, 2) AS requested_tokens,
             |round(req / CAST(avail AS DOUBLE), 5) AS epochs_uncapped,
             |round(least(4.0, req / CAST(avail AS DOUBLE)), 5) AS epochs,
             |round(least(4.0, req / CAST(avail AS DOUBLE)) * CAST(avail AS DOUBLE), 2) AS realized_tokens,
             |round(greatest(0.0, req - least(4.0, req / CAST(avail AS DOUBLE)) * CAST(avail AS DOUBLE)), 2) AS shortfall_tokens
             |FROM v ORDER BY source""".stripMargin.replace("\n", " "))),

    // The epoch plan composed into an EXECUTABLE mixture schedule —
    // the end artifact q_epoch_plan (the cap) and q_weighted_mixture
    // (the sampler) each carry half of: per-source realized tokens and
    // sampling rates AFTER the 4-epoch cap redistributes shortfall.
    // Budget = 2× the corpus; equal shares; sources whose share
    // exceeds 4 epochs cap there, and the undistributed shortfall is
    // reallocated to the uncapped sources PROPORTIONAL TO HEADROOM
    // (4·avail − realized): because every source's capacity bound is
    // the same 4-epoch multiple, headroom-proportional filling can
    // never push a source past its cap (extra_i = S·h_i/H ≤ h_i since
    // S ≤ H when budget ≤ 4×corpus) — the water-filling fixpoint in
    // ONE round, no iteration. All arithmetic is INTEGER (floor
    // divisions), so both engines agree bit-for-bit with no summation-
    // order hazard, and the budget identity is exact: Σ realized +
    // unallocated_tokens + (B mod n_src) == B, with unallocated < n_src
    // (one floor loss per source — the "exact-arithmetic bound").
    // `full_epochs` + `final_pass_pct` are literally
    // Sampling.weightedMixture's pctByStratum input: run full_epochs
    // complete passes, then one weightedMixture pass at
    // final_pass_pct% (ExtensionsSpec composes them). Everything after
    // the per-source token count is sources-sized; the DIV products
    // (S·h_i) fit BIGINT through ×256 of the fixture (~2⁶² at
    // 3×10⁹ tokens) — past that, route the one multiply-divide through
    // DECIMAL(38,0)/HUGEINT, same plan.
    Q("q_mixture_schedule",
      (s, d) => {
        val bySrc = Tables.documents(s, d)
          .select(col("source"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
          .groupBy("source")
          .agg(coalesce(sum("n_tok"), lit(0L)).as("avail"))
        val tot = bySrc.agg(sum("avail").as("total"),
          count(lit(1)).as("n_src"))
        val planned = bySrc.crossJoin(broadcast(tot))
          .withColumn("req", expr("(2 * total) DIV n_src"))
          .withColumn("base", least(col("avail") * 4, col("req")))
          .withColumn("short", col("req") - col("base"))
          .withColumn("head", col("avail") * 4 - col("base"))
        val sh = planned.agg(
          coalesce(sum("short"), lit(0L)).as("S"),
          coalesce(sum("head"), lit(0L)).as("H"))
        val alloc = planned.crossJoin(broadcast(sh))
          .withColumn("extra",
            when(col("H") > 0, expr("(S * head) DIV H")).otherwise(lit(0L)))
          .withColumn("realized", col("base") + col("extra"))
        val resid = alloc.agg((max("S") - sum("extra")).as("unalloc"))
        alloc.crossJoin(broadcast(resid))
          .select(col("source"), col("avail").as("avail_tokens"),
            col("req").as("requested_tokens"),
            col("realized").as("realized_tokens"),
            round(when(col("avail") > 0,
              col("realized").cast(DoubleType) / col("avail").cast(DoubleType))
              .otherwise(lit(0.0)), 5).as("epochs"),
            when(col("avail") > 0, expr("realized DIV avail")).otherwise(lit(0L))
              .as("full_epochs"),
            when(col("avail") > 0,
              expr("(100 * (realized - (realized DIV avail) * avail)) DIV avail"))
              .otherwise(lit(0L)).as("final_pass_pct"),
            col("unalloc").as("unallocated_tokens"))
          .orderBy("source")
      },
      Some("""WITH s AS (SELECT source,
             |CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT) AS avail
             |FROM documents GROUP BY source),
             |t AS (SELECT CAST(sum(avail) AS BIGINT) AS total,
             |CAST(count(*) AS BIGINT) AS n_src FROM s),
             |p AS (SELECT source, avail, (2 * total) // n_src AS req,
             |least(4 * avail, (2 * total) // n_src) AS base FROM s, t),
             |p2 AS (SELECT source, avail, req, base,
             |req - base AS short, 4 * avail - base AS head FROM p),
             |sh AS (SELECT CAST(coalesce(sum(short), 0) AS BIGINT) AS sS,
             |CAST(coalesce(sum(head), 0) AS BIGINT) AS hH FROM p2),
             |a AS (SELECT p2.*, base + (CASE WHEN hH > 0 THEN (sS * head) // hH ELSE 0 END) AS realized
             |FROM p2, sh),
             |rz AS (SELECT CAST((SELECT sS FROM sh) - sum(realized - base) AS BIGINT) AS unalloc FROM a)
             |SELECT source, avail AS avail_tokens, req AS requested_tokens,
             |realized AS realized_tokens,
             |round(CASE WHEN avail > 0 THEN CAST(realized AS DOUBLE) / CAST(avail AS DOUBLE) ELSE 0.0 END, 5) AS epochs,
             |CAST(CASE WHEN avail > 0 THEN realized // avail ELSE 0 END AS BIGINT) AS full_epochs,
             |CAST(CASE WHEN avail > 0 THEN (100 * (realized - (realized // avail) * avail)) // avail ELSE 0 END AS BIGINT) AS final_pass_pct,
             |unalloc AS unallocated_tokens
             |FROM a, rz ORDER BY source""".stripMargin.replace("\n", " "))),

    // DSIR-style importance weights (Xie et al. 2023): score each
    // out-of-domain document by the log-ratio of two hashed-ngram
    // unigram LMs — p_target (trusted source) over p_raw (whole corpus) —
    // and keep the top-50. Features are md5-hashed token buckets (B=512),
    // so both LMs are FIXED-SIZE tables regardless of corpus vocabulary.
    // Train: ONE corpus scan builds both LMs (the target count is a
    // conditional sum inside the same 512-key aggregate — the target
    // tokens are a subset of the corpus tokens, so a second scan would
    // re-tokenize the same text). Score: the ≤512-row log-ratio table is
    // collected (codebook-sized, the same driver-side pattern as the IVF
    // centroids) and baked into a 512-slot array literal, so each doc is
    // scored in ONE narrow projection — a per-token bucket lookup folded
    // with `aggregate` — with NO explode, NO join, and NO per-doc
    // shuffle; the top-50 is a TakeOrdered over doc-sized rows. Every
    // eval bucket exists in the raw LM (eval ⊂ corpus), so the lookup
    // never misses; the target side add-one smooths. Log-ratios are
    // quantized to 8 dp and DECIMAL-folded → order-independent,
    // hash-stable across engines.
    Q("q_dsir_weights",
      (s, d) => {
        val B = 512
        val docs = Tables.documents(s, d)
        def bucketOf(tok: org.apache.spark.sql.Column) =
          graft.ops.Sampling.hashBucket(tok, B)
        val counts = docs
          .select((col("source") === "src0").as("t"),
            explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .select(bucketOf(col("tok")).as("b"), col("t"))
          .groupBy("b")
          .agg(count(lit(1)).as("cr"),
            sum(when(col("t"), 1L).otherwise(0L)).as("ct"))
        val tots = counts.agg(sum("ct").as("nt"), sum("cr").as("nr"))
        val lm = counts.crossJoin(broadcast(tots))
          .select(col("b"),
            round(log2((col("ct") + 1).cast(DoubleType) /
                       (col("nt") + B).cast(DoubleType)) -
                  log2((col("cr") + 1).cast(DoubleType) /
                       (col("nr") + B).cast(DoubleType)), 8)
              .cast("decimal(18,8)").as("lr"))
        val lrByBucket = new Array[java.math.BigDecimal](B)
        lm.collect().foreach(r => lrByBucket(r.getLong(0).toInt) = r.getDecimal(1))
        val lrArr = array(lrByBucket.toSeq.map(v =>
          lit(v).cast("decimal(18,8)")): _*)
        docs.filter(col("source") =!= "src0")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
          // inner-join semantics (and the oracle's etoks JOIN lm): a doc
          // with NULL text or zero tokens contributes NO scored row — it
          // must not surface with log_w=0/NULL and displace negative-weight
          // docs from the top-50 on a degenerate corpus
          .filter(col("__toks").isNotNull && size(col("__toks")) > 0)
          .select(col("doc_id"),
            size(col("__toks")).cast(LongType).as("n_tok"),
            round(aggregate(col("__toks"),
                // the fold accumulator must keep ONE fixed decimal type
                // (decimal + widens precision per step), so each merge
                // casts back — exact, |sum| << 10^20
                lit(java.math.BigDecimal.ZERO).cast("decimal(28,8)"),
                (acc, tok) => (acc +
                  element_at(lrArr, (bucketOf(tok) + 1).cast("int")))
                  .cast("decimal(28,8)")),
              6).cast(DoubleType).as("log_w"))
          .orderBy(desc("log_w"), col("doc_id"))
          .limit(50)
      },
      Some("""WITH tt AS (SELECT CAST(concat('0x', substring(md5(tok), 1, 4)) AS BIGINT) % 512 AS b
             |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE source = 'src0')),
             |tc AS (SELECT b, count(*) AS ct FROM tt GROUP BY b),
             |rt AS (SELECT CAST(concat('0x', substring(md5(tok), 1, 4)) AS BIGINT) % 512 AS b
             |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
             |rc AS (SELECT b, count(*) AS cr FROM rt GROUP BY b),
             |ttot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM tc),
             |rtot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM rc),
             |lm AS (SELECT rc.b, CAST(round(
             |log2(CAST(coalesce(tc.ct, 0) + 1 AS DOUBLE) / CAST(nt + 512 AS DOUBLE)) -
             |log2(CAST(rc.cr + 1 AS DOUBLE) / CAST(nr + 512 AS DOUBLE)), 8) AS DECIMAL(18,8)) AS lr
             |FROM rc LEFT JOIN tc USING (b) CROSS JOIN ttot CROSS JOIN rtot),
             |etoks AS (SELECT doc_id, CAST(concat('0x', substring(md5(tok), 1, 4)) AS BIGINT) % 512 AS b
             |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents WHERE source <> 'src0'))
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             |CAST(round(sum(lr), 6) AS DOUBLE) AS log_w
             |FROM etoks JOIN lm USING (b)
             |GROUP BY doc_id ORDER BY log_w DESC, doc_id LIMIT 50""".stripMargin.replace("\n", " "))),

    // Leakage-safe train/val/test split: the split key is the md5 of the
    // NORMALIZED text, not the doc id — exact/near-exact duplicate
    // documents hash to the same key and therefore land in the SAME
    // split, so the test set can never contain a normalization-level
    // duplicate of a training document (the classic eval-contamination
    // bug of id-keyed splits). One narrow projection, no shuffle.
    Q("q_leakage_safe_split",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.ops.Sampling.deterministicSplit(
            docs.withColumn("__ck", md5(TextAnalysis.normalizeText(col("text")))),
            "__ck")
          .select(col("doc_id"), col("split"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE WHEN b < 80 THEN 'train'
             |WHEN b < 90 THEN 'val' ELSE 'test' END AS split FROM (
             |SELECT doc_id, CAST(concat('0x', substring(md5(md5(trim(
             |regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')
             |))), 1, 4)) AS BIGINT) % 100 AS b
             |FROM documents) x ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Schema evolution across ingest eras: the pre-1998 extract lacks
    // o_orderpriority entirely; unionByName(allowMissingColumns) aligns
    // by NAME and null-fills the missing column — positional UNION would
    // silently misalign. This is how a 100 TB corpus with years of
    // schema drift reads as one table.
    Q("q_schema_evolution",
      (s, d) => {
        val o = Tables.orders(s, d)
        val cut = to_timestamp(lit("1998-01-01"))
        val era1 = o.filter(col("o_orderdate") < cut)
          .select(col("o_orderkey"), col("o_totalprice"))
        val era2 = o.filter(col("o_orderdate") >= cut)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        era1.unionByName(era2, allowMissingColumns = true)
          .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"),
            col("o_orderpriority"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
             |CAST(NULL AS VARCHAR) AS o_orderpriority
             |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
             |UNION ALL
             |SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, o_orderpriority
             |FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
             |ORDER BY o_orderkey""".stripMargin.replace("\n", " "))),

    // Collocation mining: top-20 adjacent word pairs by PMI
    // (log2(c_ab*N / (c_a*c_b)), support >= 5) — the corpus-statistics
    // query behind tokenizer-merge and boilerplate analysis. All counts
    // are integers (bit-identical across engines); one vocab-sized
    // shuffle for pair counts, margins derive from the PAIR table (not a
    // second corpus scan), final log2 on integer ratios.
    Q("q_pmi_pairs",
      (s, d) => {
        val w = Tables.documents(s, d)
          .select(TextAnalysis.tokens(col("text")).as("w"))
          .filter(size(col("w")) >= 2)
        val bg = w.select(explode(expr(
          "transform(sequence(0, size(w)-2), i -> struct(w[i] AS a, w[i+1] AS b))")).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
        val bgc = bg.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
        val ac = bgc.groupBy("a").agg(sum("c_ab").as("c_a"))
        val bc = bgc.groupBy("b").agg(sum("c_ab").as("c_b"))
        val tot = bgc.agg(sum("c_ab").as("n"))
        bgc.join(broadcast(ac), "a").join(broadcast(bc), "b").crossJoin(broadcast(tot))
          .filter(col("c_ab") >= 5)
          .select(col("a"), col("b"), col("c_ab"),
            round(log2(col("c_ab").cast(DoubleType) * col("n").cast(DoubleType) /
              (col("c_a").cast(DoubleType) * col("c_b").cast(DoubleType))), 5).as("pmi"))
          .orderBy(col("pmi").desc, col("a"), col("b")).limit(20)
      },
      Some("""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
             |bg AS (SELECT w[i] AS a, w[i+1] AS b FROM w,
             |LATERAL (SELECT unnest(range(1, len(w))) AS i) t),
             |bgc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY a, b),
             |ac AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM bgc GROUP BY a),
             |bc AS (SELECT b, CAST(sum(c_ab) AS BIGINT) AS c_b FROM bgc GROUP BY b),
             |tot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM bgc)
             |SELECT a, b, c_ab,
             |round(log2(CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE) /
             |(CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 5) AS pmi
             |FROM bgc JOIN ac USING (a) JOIN bc USING (b) CROSS JOIN tot
             |WHERE c_ab >= 5
             |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin.replace("\n", " "))),

    // BPE tokenizer training, the data-side step: weighted adjacent-
    // symbol-pair counts over the word-frequency table — the statistic
    // the first merge round of byte-pair encoding picks its merge from
    // (and each later round recomputes on re-segmented words). The
    // corpus is scanned ONCE (word counts, map-side combinable); the
    // pair explosion then runs over the VOCABULARY, not the corpus
    // (chars-per-word ≪ doc length), and the final agg is alphabet²-
    // sized — the op a 100 TB tokenizer-training pipeline would ship
    // to the trainer instead of raw text. Repeated pairs inside one
    // word count once per position, weighted by word frequency
    // (classic BPE counting).
    Q("q_bpe_merges",
      (s, d) => {
        val wc = Tables.documents(s, d)
          .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy("w").agg(count(lit(1)).as("wc"))
        wc.select(col("wc"), explode(expr(
            """transform(sequence(1, length(w) - 1),
              |i -> struct(substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b))"""
              .stripMargin.replace("\n", " "))).as("p"))
          .groupBy(col("p.a").as("sym_a"), col("p.b").as("sym_b"))
          .agg(sum(col("wc")).as("pair_count"))
          .orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
          .limit(50)
      },
      Some("""WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM
             |(SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
             |WHERE len(w) >= 2 GROUP BY w),
             |pr AS (SELECT substring(w, i, 1) AS sym_a,
             |substring(w, i + 1, 1) AS sym_b, wc
             |FROM wc, LATERAL (SELECT unnest(range(1, len(w))) AS i) t)
             |SELECT sym_a, sym_b, CAST(sum(wc) AS BIGINT) AS pair_count
             |FROM pr GROUP BY sym_a, sym_b
             |ORDER BY pair_count DESC, sym_a, sym_b
             |LIMIT 50""".stripMargin.replace("\n", " "))),

    // BPE tokenizer APPLICATION — the other half of q_bpe_merges' mining
    // statistic: encode the corpus with the top-16 frequency-ranked merge
    // rules (one-shot approximation of sequential BPE training; the rank
    // order IS the merge priority) and report the top-20 subword tokens
    // by frequency-weighted count. Everything after the one corpus scan
    // is vocabulary-sized: distinct words are encoded ONCE (leaf-
    // materialized so mining and encoding share the scan) with the merge
    // table broadcast, and token counts weight by word frequency — at
    // 100 TB the encode itself never touches the corpus again. The
    // oracle replays the identical fold chain (native kernel semantics
    // == 16 chained list_reduce folds) symbol-for-symbol.
    Q("q_bpe_encode",
      (s, d) => {
        val (wc, _) = Dedup.materializeLeaf(
          Tables.documents(s, d)
            .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
            .filter(col("w") =!= "")
            .groupBy("w").agg(count(lit(1)).as("wc")))
        val pairs = wc.filter(length(col("w")) >= 2)
          .select(col("wc"), explode(expr(
            """transform(sequence(1, length(w) - 1),
              |i -> struct(substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b))"""
              .stripMargin.replace("\n", " "))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("wc")).as("pc"))
        val merges = pairs
          .orderBy(col("pc").desc, col("a"), col("b")).limit(BpeRules)
          .agg(transform(
            array_sort(collect_list(struct(
              (-col("pc")).as("r"), col("a").as("a"), col("b").as("b")))),
            x => concat(x.getField("a"), lit(" "), x.getField("b"))).as("m"))
        wc.crossJoin(broadcast(merges))
          .select(col("wc"),
            explode(graft.functions.BpeEncode(col("w"), col("m"))).as("token"))
          .groupBy("token").agg(sum(col("wc")).as("tok_count"))
          .orderBy(col("tok_count").desc, col("token")).limit(20)
      },
      Some(s"""WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM
             |(SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
             |WHERE w <> '' GROUP BY w),
             |pr AS (SELECT substring(w, i, 1) AS sym_a,
             |substring(w, i + 1, 1) AS sym_b, wc
             |FROM wc, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
             |WHERE len(w) >= 2),
             |mg AS (SELECT list(sym_a || ' ' || sym_b
             |ORDER BY pair_count DESC, sym_a, sym_b) AS m FROM
             |(SELECT sym_a, sym_b, sum(wc) AS pair_count FROM pr
             |GROUP BY sym_a, sym_b
             |ORDER BY pair_count DESC, sym_a, sym_b LIMIT $BpeRules) ranked),
             |enc AS (SELECT wc, string_split($BpeFoldSql, ' ') AS toks
             |FROM wc CROSS JOIN mg)
             |SELECT token, CAST(sum(wc) AS BIGINT) AS tok_count
             |FROM (SELECT unnest(toks) AS token, wc FROM enc) u
             |GROUP BY token ORDER BY tok_count DESC, token
             |LIMIT 20""".stripMargin.replace("\n", " "))),

    // Cumulative distinct users by day WITHOUT count-distinct-over-
    // expanding-window (quadratic) or HLL merge: each user collapses to
    // their first-seen day (one keyed agg), then a days-sized running
    // sum. The global window is over ~days rows, not events — the only
    // corpus-sized op is the first groupBy.
    Q("q_cumulative_users",
      (s, d) => {
        val firstDay = Tables.events(s, d).groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("day"))
        val byDay = firstDay.groupBy("day").agg(count(lit(1)).as("new_users"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byDay.withColumn("cum_users", sum("new_users").over(w)).orderBy("day")
      },
      Some("""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id),
             |b AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM f GROUP BY day)
             |SELECT day, new_users, CAST(sum(new_users) OVER (ORDER BY day
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
             |FROM b ORDER BY day""".stripMargin.replace("\n", " "))),

    // Peak concurrent sessions per day by sweep-line: sessions (30-min
    // session_window) become (t, +1)/(t, -1) boundary events; a running
    // sum ordered by (t, delta) — ends before starts at ties, half-open
    // intervals — is the live concurrency, and the per-day max of it is
    // the peak. No interval self-join (quadratic), no minute-grid
    // explode: the sweep frame is 2x sessions, orders of magnitude
    // smaller than events, and peaks are order-stable under ties because
    // tied +1 rows form a contiguous ramp whose max doesn't depend on
    // their relative order. The sweep itself is Scale.rangedRunningSum
    // (r11) — a DISTRIBUTED prefix sum over range partitions, not the
    // single-partition `sum OVER (ORDER BY)` window: sessions are
    // smaller than events but still corpus-∝ at 100 TB, and one task
    // sweeping billions of boundaries is exactly the straggler the
    // WindowExec single-partition warning names. Adaptive like
    // saltedJoin: a boundary stream under the broadcast threshold keeps
    // the harmless global window; the distributed plan engages exactly
    // when one task could not hold the stream.
    Q("q_concurrency",
      (s, d) => {
        val sess = Tables.events(s, d)
          .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("sw.start").as("st"), col("sw.end").as("en"))
        val deltas = sess.select(col("st").as("t"), lit(1).as("delta"))
          .unionAll(sess.select(col("en").as("t"), lit(-1).as("delta")))
        graft.ops.Scale.rangedRunningSum(deltas, Seq("t", "delta"),
            col("delta"), "cur")
          .groupBy(to_date(col("t")).as("day"))
          .agg(max(col("cur")).as("peak_concurrent"))
          .orderBy("day")
      },
      Some("""WITH flagged AS (SELECT user_id, ts, event_id,
             |CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
             |THEN 1 ELSE 0 END AS is_start FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (SELECT user_id, ts, sum(is_start) OVER
             |(PARTITION BY user_id ORDER BY ts, event_id
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM flagged),
             |agg AS (SELECT user_id, min(ts) AS st, max(ts) + INTERVAL 30 MINUTE AS en
             |FROM sess GROUP BY user_id, sid),
             |deltas AS (SELECT st AS t, 1 AS delta FROM agg
             |UNION ALL SELECT en AS t, -1 AS delta FROM agg),
             |sweep AS (SELECT t, delta, CAST(sum(delta) OVER (ORDER BY t, delta
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cur FROM deltas)
             |SELECT CAST(t AS DATE) AS day, max(cur) AS peak_concurrent
             |FROM sweep GROUP BY day ORDER BY day""".stripMargin.replace("\n", " "))),

    // Overlapping token-window chunking (64-token windows, 16 overlap) —
    // the pretraining/RAG chunker; chunk text re-joins byte-exact.
    Q("q_chunk",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunks(col("text"), size = 64, overlap = 16)))
        .select(col("doc_id"), col("pos").cast("bigint").as("chunk_id"),
          col("col").as("chunk"))
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH c AS (SELECT doc_id, list_transform(
             |range(0, greatest(1, CAST(ceil(CAST(len(w) - 16 AS DOUBLE) / 48) AS BIGINT))),
             |i -> array_to_string(w[(i*48+1):(i*48+64)], ' ')) AS chunks
             |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t)
             |SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_id, chunks[i] AS chunk
             |FROM c, LATERAL (SELECT unnest(range(1, len(chunks) + 1)) AS i) x
             |ORDER BY doc_id, chunk_id""".stripMargin.replace("\n", " "))),

    // Token-count truncation (first 32 tokens; byte-exact under the cap).
    Q("q_truncate",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.truncateTokens(col("text"), 32).as("text_trunc"),
          TextAnalysis.tokenCount(
            TextAnalysis.truncateTokens(col("text"), 32)).as("n_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, array_to_string(w[1:32], ' ') AS text_trunc,
             |CAST(len(string_split(array_to_string(w[1:32], ' '), ' ')) AS BIGINT) AS n_tokens
             |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // ---- Deduplication ---------------------------------------------------

    // Exact dedup: survivors per source after fingerprint-keyed dedup
    // keeping min doc_id (hash-groupBy; no text comparison).
    Q("q_dedup_exact",
      (s, d) => Dedup.exact(Tables.documents(s, d), "text", "doc_id")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        .orderBy("source"),
      Some("""SELECT source, count(*) AS n_docs, min(doc_id) AS min_doc FROM (
             |SELECT source, doc_id, row_number() OVER (
             |PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
             |ORDER BY doc_id) AS rn FROM documents) t
             |WHERE rn = 1 GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "))),

    Q("q_minhash_signature",
      (s, d) => Dedup.minhashSignatureNarrow(Tables.documents(s, d), "doc_id", "text", k = LshK)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(MinhashSignatureSql)),

    Q("q_minhash_lsh_pairs",
      (s, d) => Dedup.nearDupPairs(Tables.documents(s, d), "doc_id", "text",
          threshold = NearDupJ, k = LshK, bandRows = LshRows)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b"),
      Some(NearDupPairsSql)),

    // LSH index health — the q_ivf_stats analog for the MinHash band
    // family: per-band bucket population, hottest bucket, docs in
    // colliding buckets, and Σ C(size,2) candidate pairs. candidate_pairs
    // IS the band self-join's output volume, so this one cheap scan
    // (signature pass + two keyed aggregations, output = bands-sized)
    // predicts the cost of the 100 TB near-dup join BEFORE running it —
    // and max_bucket says whether the super-bucket cap will engage.
    Q("q_minhash_band_stats",
      (s, d) => Dedup.lshBands(
          Dedup.minhashSignatureNarrow(Tables.documents(s, d), "doc_id", "text"))
        .groupBy(col("band_id"), col("band_key")).agg(count(lit(1)).as("sz"))
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_buckets"),
          max(col("sz")).as("max_bucket"),
          sum(when(col("sz") > 1, col("sz")).otherwise(lit(0L))).as("colliding_docs"),
          // integer DIV: sz·(sz−1) is even, and a double division would
          // lose exactness once a hot bucket pushes the sum past 2^53
          expr("sum(sz * (sz - 1)) div 2").as("candidate_pairs"))
        .withColumn("band_id", col("band_id").cast(LongType))
        .orderBy("band_id"),
      Some(DedupSql.answer(DedupSql.shingles(), DedupSql.sig(LshK), DedupSql.bands(LshK, LshRows),
        "buckets AS (SELECT band_id, band_key, count(*) AS sz FROM bands GROUP BY band_id, band_key)")(
        """SELECT CAST(band_id AS BIGINT) AS band_id, CAST(count(*) AS BIGINT) AS n_buckets,
          |CAST(max(sz) AS BIGINT) AS max_bucket,
          |CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT) AS colliding_docs,
          |CAST(sum(sz * (sz - 1)) // 2 AS BIGINT) AS candidate_pairs
          |FROM buckets GROUP BY 1 ORDER BY band_id""".stripMargin))),

    // Dedup clusters: connected components over the verified near-dup
    // pairs — a~b, b~c collapse to one cluster even without an a~c pair.
    // Spark side: iterative min-label propagation over the (tiny) dup
    // edge set; oracle: recursive-CTE transitive closure.
    Q("q_dedup_clusters",
      (s, d) => Dedup.clusters(
          Dedup.nearDupPairs(Tables.documents(s, d), "doc_id", "text",
            threshold = NearDupJ).select("id_a", "id_b"))
        .orderBy("doc_id"),
      Some(DedupSql.answer(DedupSql.shingles(), DedupSql.Lsh, DedupSql.Verified,
        DedupSql.closure())("SELECT doc_id, cluster_id FROM cl ORDER BY doc_id"))),

    // Dedup cluster-size histogram — the duplicate-family report every
    // data card and dedup review carries: how many families of each
    // size the near-dup closure found, and how many docs collapsing
    // each size bucket removes (Σ(size−1)). Rides the verified
    // pairs→closure pipeline; the two extra aggregations are
    // cluster-vocabulary-sized, so the report costs nothing beyond the
    // closure itself at any corpus scale.
    Q("q_dedup_cluster_stats",
      (s, d) => Dedup.clusters(
          Dedup.nearDupPairs(Tables.documents(s, d), "doc_id", "text",
            threshold = NearDupJ).select("id_a", "id_b"))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz") - 1).as("docs_removed"))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          col("docs_removed"))
        .orderBy("cluster_size"),
      Some(DedupSql.answer(DedupSql.shingles(), DedupSql.Lsh, DedupSql.Verified,
        DedupSql.closure(), "cs AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY cluster_id)")(
        """SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
          |CAST(sum(sz - 1) AS BIGINT) AS docs_removed
          |FROM cs GROUP BY sz ORDER BY cluster_size""".stripMargin))),

    // EXACT set-similarity self-join (Dedup.setSimJoinExact): every
    // shingle-set pair at Jaccard >= 7/10 with NO miss probability —
    // the AllPairs/PPJoin prefix filter (rarest-first canonical order,
    // integer-exact gating; the operator scaladoc carries the
    // completeness argument and the shingles-not-tokens rationale).
    // Same prefix-twin corpus as the threshold sweep so the fixture
    // spans the threshold; where the sweep prices the LSH geometry's
    // RECALL, this is the join a decontamination-grade dedup runs when
    // a miss is not an option. ExtensionsSpec pins output ==
    // brute-force all-pairs on the fixture.
    Q("q_setsim_join",
      // the pair output is small: one single-partition exchange orders
      // it, where an orderBy's range-partition sampler would run the
      // block kernel a second time
      (s, d) => Dedup.setSimJoinExact(twinCorpus(s, d), "doc_id", "text",
          num = ExactJ._1, den = ExactJ._2)
        .repartition(1).sortWithinPartitions("id_a", "id_b"),
      Some(DedupSql.answer(DedupSql.TwinCorpus, DedupSql.shingles(from = "corpus"),
        DedupSql.exact("sh", "sh", Seq(ExactJ)))(
        s"SELECT id_a, id_b, ${DedupSql.ExactJaccard} FROM ex${ExactJ._1} ORDER BY id_a, id_b"))),

    // The exact set-similarity join in its PRODUCTION shape: two-table
    // (R-S) decontamination (Dedup.setSimJoinExactRS) — eval-suite
    // probes against the training corpus, every (probe, doc) pair at
    // Jaccard >= 7/10 with NO miss probability (q_decontaminate /
    // q_semantic_decontaminate are the approximate tiers; an S-curve
    // miss there means a leaked eval document survives into training).
    // Token frequencies come from the UNION of both sides (the prefix
    // principle needs only a shared total order); the probe prefix
    // table broadcasts, so the corpus is scanned, never shuffled, for
    // candidate generation. Probes are deterministic prefix-keep twins
    // of every 25th document (keep fraction 50–95% stepped by
    // (doc_id % 250) DIV 25), so the fixture's matches span the
    // threshold instead of clustering at j≈1.
    Q("q_setsim_decontaminate",
      (s, d) => {
        val (docs, probes) = probeSplit(s, d)
        Dedup.setSimJoinExactRS(probes, docs, "doc_id", "text",
            num = ExactJ._1, den = ExactJ._2)
          .select(col("id_a").as("probe_id"), col("id_b").as("doc_id"),
            col("jaccard"))
          .orderBy("probe_id", "doc_id")
      },
      Some(DedupSql.answer(DedupSql.Probes, DedupSql.shingles("toka", "probes", "id"),
        DedupSql.shingles("tokb"), DedupSql.exact("toka", "tokb", Seq(ExactJ)))(
        s"""SELECT id_a AS probe_id, id_b AS doc_id, ${DedupSql.ExactJaccard}
           |FROM ex${ExactJ._1} ORDER BY probe_id, doc_id""".stripMargin))),

    // The lossless tier in its INCREMENTAL form: the corpus's prefix
    // index persisted once (Dedup.writeSetSimIndex — ordered token
    // lists + the frequency table), each probe batch decontaminated
    // against the STORED rows (Dedup.setSimAgainstIndex) with no corpus
    // recompute and no miss probability — writeBandIndex's shape for
    // the join a gate can't run lossy. Same probe fixture as
    // q_setsim_decontaminate; the ORACLE here is the definitional
    // brute force (every cross pair's shingle intersection, no prefix
    // machinery at all) — the strongest possible losslessness check,
    // complementing the replayed-algorithm oracles of its siblings.
    // ExtensionsSpec pins index-served == the direct two-table join.
    Q("q_setsim_index",
      (s, d) => {
        val (docs, probes) = probeSplit(s, d)
        val idx = Fixtures.dir("setsim_index_q", d)
        Dedup.writeSetSimIndex(docs, "doc_id", "text", idx)
        Dedup.setSimAgainstIndex(probes, "doc_id", "text", idx, docs,
            num = ExactJ._1, den = ExactJ._2)
          .select(col("id_a").as("probe_id"), col("id_b").as("doc_id"),
            col("jaccard"))
          .orderBy("probe_id", "doc_id")
      },
      Some(DedupSql.answer(DedupSql.Probes, DedupSql.shingles("toka", "probes", "id"),
        DedupSql.shingles("tokb"),
        """sa AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM toka GROUP BY id),
          |sb AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM tokb GROUP BY id),
          |i AS (SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS inter
          |FROM toka a JOIN tokb b ON a.shingle = b.shingle GROUP BY a.id, b.id),
          |bf AS (SELECT id_a, id_b, inter, sa.n + sb.n - inter AS uni
          |FROM i JOIN sa ON sa.id = id_a JOIN sb ON sb.id = id_b)""".stripMargin)(
        s"""SELECT id_a AS probe_id, id_b AS doc_id, ${DedupSql.ExactJaccard}
           |FROM bf WHERE ${ExactJ._2} * inter >= ${ExactJ._1} * uni
           |ORDER BY probe_id, doc_id""".stripMargin))),

    // The exact tier PRICED against the LSH tier (the X147/X159
    // pattern): per threshold, the exact join's pair count and
    // candidate volume beside the LSH pipeline's recovered pairs and
    // band-collision candidates — the decision table for "when is
    // losslessness worth it". lsh_recall is the number a
    // decontamination review reads: at a recall the pass can't accept,
    // the exact join's candidate surplus is the price of closing the
    // miss probability. Same twin-augmented corpus as q_setsim_join so
    // both tiers face matches spanning the swept thresholds; LSH
    // geometry is the deployed default (6 components, 3 bands of 2),
    // so the recovered counts price the PRODUCTION knob. Counts are
    // driver-sized; Dedup.setSimExactCounts tokenizes the corpus ONCE
    // and takes each threshold's exact pairs from the block kernel (the
    // candidate column is the relational prefix join's count), and the
    // LSH pipeline runs once total.
    Q("q_setsim_vs_lsh",
      (s, d) => {
        import s.implicits._
        val corpus = twinCorpus(s, d)
        // LSH-recovered pairs carry LONG inter/uni counts so every
        // threshold cut below uses the SAME integer gate as the exact
        // tier (den·inter ≥ num·uni) — a double `jaccard >= t` re-filter
        // could round a representation-gap ratio into passing and break
        // the pinned recovered ≤ exact invariant (r17 ADVICE)
        val lshVer = Dedup.nearDupPairCounts(corpus, "doc_id", "text",
            num = SweepThresholds.head._1, den = SweepThresholds.head._2)
          .select(col("inter"), col("uni"))
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        val lshCandN = Dedup.lshCandidates(Dedup.lshBands(
          Dedup.minhashSignatureNarrow(corpus, "doc_id", "text"))).count()
        val rows = Dedup.setSimExactCounts(corpus, "doc_id", "text", SweepThresholds).map {
          case (nm, dn, nCand, nPairs) =>
            (nm.toDouble / dn, nPairs,
              lshVer.filter(lit(dn.toLong) * col("inter") >=
                lit(nm.toLong) * col("uni")).count(),
              nCand, lshCandN)
        }
        lshVer.unpersist(blocking = false)
        rows.toDF("threshold", "exact_pairs", "lsh_recovered",
            "exact_candidates", "lsh_candidates")
          .select(col("threshold"), col("exact_pairs"), col("lsh_recovered"),
            (col("exact_pairs") - col("lsh_recovered")).as("lsh_missed"),
            when(col("exact_pairs") === 0, lit(null))
              .otherwise(round(col("lsh_recovered").cast(DoubleType) /
                col("exact_pairs").cast(DoubleType), 4)).as("lsh_recall"),
            col("exact_candidates"), col("lsh_candidates"))
          .orderBy("threshold")
      },
      Some(DedupSql.answer(DedupSql.TwinCorpus, DedupSql.shingles(from = "corpus"),
        DedupSql.exact("sh", "sh", SweepThresholds), DedupSql.Lsh,
        SweepThresholds.map { case (num, den) =>
          s"""SELECT CAST($num AS DOUBLE) / $den AS threshold,
             |(SELECT count(*) FROM ex$num) AS exact_pairs,
             |(SELECT count(*) FROM lp WHERE $den * i >= $num * (na + nb - i)) AS lsh_recovered,
             |(SELECT count(*) FROM pc$num) AS exact_candidates""".stripMargin
        }.mkString("t AS (", "\nUNION ALL ", ")"))(
        s"""SELECT threshold, CAST(exact_pairs AS BIGINT) AS exact_pairs,
           |CAST(lsh_recovered AS BIGINT) AS lsh_recovered,
           |CAST(exact_pairs - lsh_recovered AS BIGINT) AS lsh_missed,
           |${DedupSql.Recall},
           |CAST(exact_candidates AS BIGINT) AS exact_candidates,
           |CAST((SELECT count(*) FROM cand) AS BIGINT) AS lsh_candidates
           |FROM t ORDER BY threshold""".stripMargin))),

    // The frozen canonical order's DRIFT GAUGE (Dedup.setSimIndexDrift):
    // appendToSetSimIndex keeps losslessness under the stored frequency
    // snapshot (spec-pinned), but pruning quality decays as true
    // frequencies drift — and nothing measured WHEN until now. The
    // fixture manufactures the canonical failure mode: a post-freeze
    // batch carrying shared boilerplate the snapshot has never seen
    // (stored cnt 0 ⇒ "rarest" ⇒ in every appended doc's prefix, while
    // actually the new corpus's most COMMON tokens) — so the stored
    // order's candidate mass blows past the re-frozen order's and the
    // re-freeze signal trips. Both legs are index-resident (fresh
    // counts recounted from the stored token lists, no corpus re-read);
    // the Spearman leg runs on the vocabulary, the mass legs on docs
    // sampled by id % 4. All gating is integer/decimal-exact; the
    // oracle replays freeze + append + gauge from the raw tables.
    Q("q_setsim_drift",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val idx = Fixtures.dir("setsim_drift_idx", d)
        Dedup.writeSetSimIndex(docs, "doc_id", "text", idx)
        val drifted = docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 30000000L).as("doc_id"),
            concat(lit("the quick brown fox jumps over the lazy dog and then "),
              col("text")).as("text"))
        Dedup.appendToSetSimIndex(drifted, "doc_id", "text", idx)
        Dedup.setSimIndexDrift(s, idx, num = 7, den = 10, sampleMod = 4)
      },
      Some(DedupSql.answer(
        """drift AS (SELECT doc_id + 30000000 AS doc_id,
          |'the quick brown fox jumps over the lazy dog and then ' || text AS text
          |FROM documents WHERE doc_id % 3 = 0)""".stripMargin,
        DedupSql.shingles("tok0"), DedupSql.shingles("tokd", "drift"),
        """sfreq AS (SELECT shingle, CAST(count(*) AS BIGINT) AS scnt FROM tok0 GROUP BY shingle),
          |toka AS (SELECT id, shingle FROM tok0 UNION ALL SELECT id, shingle FROM tokd),
          |fresh AS (SELECT shingle, CAST(count(*) AS BIGINT) AS fcnt FROM toka GROUP BY shingle),
          |vocab AS (SELECT f.shingle, f.fcnt, coalesce(s.scnt, 0) AS scnt
          |FROM fresh f LEFT JOIN sfreq s USING (shingle)),
          |ranked AS (SELECT row_number() OVER (ORDER BY scnt, shingle) AS rs,
          |row_number() OVER (ORDER BY fcnt, shingle) AS rf FROM vocab),
          |ra AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |coalesce(CAST(sum(CAST(rs - rf AS BIGINT) * CAST(rs - rf AS BIGINT)) AS HUGEINT),
          |CAST(0 AS HUGEINT)) AS s2 FROM ranked),
          |sized AS (SELECT t.id, t.shingle, f.fcnt,
          |row_number() OVER (PARTITION BY t.id ORDER BY coalesce(s.scnt, 0), t.shingle) AS pos,
          |row_number() OVER (PARTITION BY t.id ORDER BY f.fcnt, t.shingle) AS pos2,
          |count(*) OVER (PARTITION BY t.id) AS s
          |FROM toka t LEFT JOIN sfreq s USING (shingle) JOIN fresh f USING (shingle)
          |WHERE t.id % 4 = 0),
          |ms AS (SELECT coalesce(CAST(sum(CAST(p AS HUGEINT) * (p - 1) // 2) AS HUGEINT),
          |CAST(0 AS HUGEINT)) AS m FROM
          |(SELECT count(*) AS p FROM sized WHERE pos <= s - (7 * s + 9) // 10 + 1 GROUP BY shingle)),
          |mf AS (SELECT coalesce(CAST(sum(CAST(p AS HUGEINT) * (p - 1) // 2) AS HUGEINT),
          |CAST(0 AS HUGEINT)) AS m FROM
          |(SELECT count(*) AS p FROM sized WHERE pos2 <= s - (7 * s + 9) // 10 + 1 GROUP BY shingle))""".stripMargin)(
        """SELECT ra.n AS n_tokens,
          |CASE WHEN ra.n < 2 THEN 1.0
          |ELSE round(1.0 - 6.0 * CAST(ra.s2 AS DOUBLE) /
          |CAST(CAST(ra.n AS HUGEINT) * ra.n * ra.n - ra.n AS DOUBLE), 6) END AS rank_corr,
          |CAST(ms.m AS BIGINT) AS cand_mass_stored,
          |CAST(mf.m AS BIGINT) AS cand_mass_refrozen,
          |(ms.m > 2 * mf.m OR (ra.n >= 2 AND 30 * ra.s2 >
          |CAST(ra.n AS HUGEINT) * ra.n * ra.n - ra.n)) AS refreeze
          |FROM ra, ms, mf""".stripMargin))),

    // The LSH GEOMETRY FRONTIER priced against the exact tier
    // (Dedup.lshGeometryFrontier): q_setsim_vs_lsh fixes geometry at the
    // deployed 3×2, but lshGeometries ships ~19 (k, band_rows) choices —
    // this sweeps ALL of them per threshold and emits the MEASURED
    // recall (candidates ∩ exact pairs, integer-gated) plus candidate
    // volume beside the exact tier, answering "could a cheaper LSH
    // geometry reach the recall bar before paying for exact?" in one
    // artifact. Exact corpus stages run once; signatures once per k;
    // only banding re-runs per geometry. Same twin corpus as
    // q_setsim_join. The oracle replays every geometry's chunked-md5
    // banding (per-k chunk widths = Dedup.sigWidth) and the exact
    // prefix-filter join relationally — generated from the SAME
    // lshGeometries enumeration, so geometry set and SQL can't drift.
    Q("q_setsim_lsh_frontier",
      (s, d) => Dedup.lshGeometryFrontier(twinCorpus(s, d), "doc_id", "text",
        SweepThresholds),
      Some(DedupSql.Frontier)),

    // The dedup THRESHOLD dial priced as a sweep (r14) — the
    // q_ivf_probe_curve pattern applied to near-dup verification: pair
    // and doc counts at jaccard ≥ 0.7 / 0.8 / 0.9 from ONE
    // candidate+verify pass (each verified pair explodes to the
    // thresholds it clears; the expensive stages — banding, the bucket
    // join, per-pair ShingleJaccard — run once). The number a curation
    // review reads before moving the dedup bar: how many more docs does
    // 0.7 pull in, how many does 0.9 release. The fixture's own
    // near-dups all sit at j ≥ 0.9 (the sweep would read flat), so the
    // corpus is augmented with a deterministic TWIN per doc — the
    // prefix keeping 50–95% of the words by doc_id — whose pair
    // similarities span the swept range (the q_zipf_fit_gate move:
    // make the fixture exercise both sides of the dial). Candidates
    // are banding-driven (geometry fixed), so the sweep prices the
    // threshold GIVEN the deployed LSH geometry — exactly what
    // flipping the production knob would do; the oracle replays the
    // same candidate set over the same twin-injected corpus.
    Q("q_dedup_threshold_sweep",
      (s, d) => {
        import s.implicits._
        val pairs = Dedup.nearDupPairs(twinCorpus(s, d), "doc_id", "text",
          threshold = SweepJ.min)
        val sweep = pairs.withColumn("threshold",
            explode(array(SweepJ.map(lit): _*)))
          .filter(col("jaccard") >= col("threshold"))
        val nPairs = sweep.groupBy("threshold")
          .agg(count(lit(1)).as("n_pairs"))
        val nDocs = sweep
          .select(col("threshold"), explode(array(col("id_a"), col("id_b"))).as("id"))
          .distinct()
          .groupBy("threshold").agg(count(lit(1)).as("n_docs"))
        SweepJ.toDF("threshold")
          .join(nPairs, Seq("threshold"), "left")
          .join(nDocs, Seq("threshold"), "left")
          .select(col("threshold"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"))
          .orderBy("threshold")
      },
      Some(DedupSql.answer(DedupSql.TwinCorpus, DedupSql.shingles(from = "corpus"), DedupSql.Lsh,
        s"""thr AS (SELECT CAST(t.threshold AS DOUBLE) AS threshold
           |FROM (VALUES ${SweepJ.map(t => s"($t)").mkString(", ")}) t(threshold)),
           |tp AS (SELECT thr.threshold, lp.id_a, lp.id_b
           |FROM thr JOIN lp ON lp.j >= thr.threshold),
           |np AS (SELECT threshold, count(*) AS n_pairs FROM tp GROUP BY threshold),
           |nd AS (SELECT threshold, count(*) AS n_docs FROM (
           |SELECT DISTINCT threshold, id FROM (
           |SELECT threshold, id_a AS id FROM tp
           |UNION ALL SELECT threshold, id_b FROM tp) u) v GROUP BY threshold)""".stripMargin)(
        """SELECT thr.threshold,
          |CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
          |CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
          |FROM thr LEFT JOIN np ON np.threshold = thr.threshold
          |LEFT JOIN nd ON nd.threshold = thr.threshold
          |ORDER BY thr.threshold""".stripMargin))),

    // The dedup report's HEADLINE number: what share of the corpus's
    // tokens sits inside near-dup families, and what share collapsing
    // each family to its canonical (min-id) member would remove — the
    // "N% of our tokens are duplicates" line every data card and dedup
    // review leads with, token-weighted rather than doc-counted (one
    // duplicated book outweighs a thousand duplicated tweets). One
    // token-count scan + a broadcast-sized join against the (tiny)
    // closure + a 1-row aggregate.
    Q("q_dup_token_share",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cl = Dedup.clusters(Dedup.nearDupPairs(docs, "doc_id", "text",
          threshold = NearDupJ).select("id_a", "id_b"))
        docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("w"))
          .join(cl, Seq("doc_id"), "left")
          .agg(
            sum(col("w")).as("total_tokens"),
            sum(when(col("cluster_id").isNotNull, col("w")).otherwise(lit(0L)))
              .as("dup_family_tokens"),
            sum(when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"),
              col("w")).otherwise(lit(0L))).as("removable_tokens"))
          .select(col("total_tokens"), col("dup_family_tokens"),
            col("removable_tokens"),
            round(col("removable_tokens").cast(DoubleType) /
              col("total_tokens").cast(DoubleType), 5).as("removable_share"))
      },
      Some(DedupSql.answer(DedupSql.shingles(), DedupSql.Lsh, DedupSql.Verified, DedupSql.closure(),
        """t AS (SELECT d.doc_id, len(string_split(d.text, ' ')) AS w,
          |cl.cluster_id FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)""".stripMargin)(
        """SELECT CAST(sum(w) AS BIGINT) AS total_tokens,
          |CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN w ELSE 0 END) AS BIGINT)
          |AS dup_family_tokens,
          |CAST(sum(CASE WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id
          |THEN w ELSE 0 END) AS BIGINT) AS removable_tokens,
          |round(CAST(sum(CASE WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id
          |THEN w ELSE 0 END) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 5)
          |AS removable_share FROM t""".stripMargin))),

    // Data-card summary: the release-note stat block for a corpus drop —
    // doc/token/char totals, source+language breadth, English share, and
    // the exact normalization-level dup rate — as (metric, value) rows
    // from ONE corpus scan feeding one multi-distinct aggregate (Spark
    // plans the 3 DISTINCTs as one Expand pass; at 100 TB you'd swap the
    // exact distincts for approx_count_distinct, same shape). The
    // 1-row aggregate explodes into the row-per-metric card; no second
    // scan anywhere.
    Q("q_data_card",
      (s, d) => TextAnalysis.dataCard(Tables.documents(s, d)),
      Some("""WITH b AS (SELECT len(string_split(text, ' ')) AS nt, n_chars, lang, source,
             |md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS nk
             |FROM documents),
             |a AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(nt) AS DOUBLE) AS n_tokens,
             |CAST(sum(n_chars) AS DOUBLE) AS n_chars_total,
             |CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
             |CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
             |CAST(count(DISTINCT nk) AS DOUBLE) AS n_unique,
             |CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS n_en FROM b)
             |SELECT metric, value FROM (
             |SELECT 'dup_rate' AS metric, round(1.0 - n_unique / n_docs, 4) AS value FROM a
             |UNION ALL SELECT 'mean_doc_tokens', round(n_tokens / n_docs, 4) FROM a
             |UNION ALL SELECT 'n_chars_total', n_chars_total FROM a
             |UNION ALL SELECT 'n_docs', n_docs FROM a
             |UNION ALL SELECT 'n_langs', n_langs FROM a
             |UNION ALL SELECT 'n_sources', n_sources FROM a
             |UNION ALL SELECT 'n_tokens', n_tokens FROM a
             |UNION ALL SELECT 'pct_en', round(n_en / n_docs, 4) FROM a) t
             |ORDER BY metric""".stripMargin.replace("\n", " "))),

    // Cross-source contamination matrix: verified near-dup pair counts
    // by (source, source) — the corpus-governance view of WHERE
    // duplication flows between ingest domains (mirror-site detection,
    // license-laundering audits). The pair set is O(dups); both source
    // lookups AQE-broadcast the pair side, so the corpus is scanned for
    // labels, never shuffled; the matrix is |sources|² at most.
    Q("q_crossdup_matrix",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = NearDupJ)
          .select("id_a", "id_b")
        val src = docs.select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")), Seq("id_a"))
          .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")), Seq("id_b"))
          .select(least(col("__sa"), col("__sb")).as("source_a"),
            greatest(col("__sa"), col("__sb")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).cast(LongType).as("n_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(DedupSql.answer(DedupSql.shingles(), DedupSql.Lsh, DedupSql.Verified,
        """lab AS (SELECT least(da.source, db.source) AS source_a,
          |greatest(da.source, db.source) AS source_b
          |FROM vpairs vp JOIN documents da ON vp.id_a = da.doc_id
          |JOIN documents db ON vp.id_b = db.doc_id)""".stripMargin)(
        """SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
          |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))),

    // Exact all-pairs n-gram Jaccard — the ground truth the LSH pipeline
    // approximates — from the exact set-sim block kernel at 9/10 (the
    // integer gate 10·inter ≥ 9·uni admits exactly the pairs whose
    // double ratio reaches 0.9), rounded once from the LONG counts.
    Q("q_ngram_jaccard",
      (s, d) => Dedup.setSimSelfJoin(
          Dedup.setSimSets(Tables.documents(s, d), "doc_id", "text", 3), 9, 10)
        .select(col("id_a"), col("id_b"),
          round(col("inter").cast(DoubleType) / col("uni").cast(DoubleType), 4)
            .as("jaccard"))
        .repartition(1).sortWithinPartitions("id_a", "id_b"),
      Some(DedupSql.answer(DedupSql.shingles(),
        """sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
          |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i FROM sh a
          |JOIN sh b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2)""".stripMargin)(
        """SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
          |FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
          |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.9
          |ORDER BY id_a, id_b""".stripMargin))),

    Q("q_simhash",
      (s, d) => Dedup.simhashNarrow(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some(DedupSql.answer(DedupSql.Simhash)(
        "SELECT id AS doc_id, simhash FROM sig ORDER BY doc_id"))),

    // SimHash near-dup pairs within Hamming radius 1, via the banded
    // (pigeonhole) join — the scale path; the oracle verifies all-pairs.
    Q("q_simhash_pairs",
      (s, d) => Dedup.simhashPairsBanded(
          Dedup.simhashNarrow(Tables.documents(s, d), "doc_id", "text"), maxHamming = 1)
        .orderBy("id_a", "id_b"),
      Some(DedupSql.answer(DedupSql.Simhash)(
        """SELECT a.id AS id_a, b.id AS id_b,
          |CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          |FROM sig a JOIN sig b ON a.id < b.id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
          |ORDER BY id_a, id_b""".stripMargin))),

    // Benchmark decontamination: per-train-doc count/ratio of distinct
    // 3-grams that appear anywhere in the held-out "benchmark" slice
    // (doc_id % 50 == 0 stands in for the eval corpus). Broadcast bench
    // shingle set; only hit rows shuffle.
    Q("q_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") % 50 === 0)
        val train = docs.filter(col("doc_id") % 50 =!= 0)
        Dedup.contamination(train, bench, "doc_id", "text")
          .select(col("id").as("doc_id"), col("n_shingles"), col("n_overlap"),
            round(col("overlap_ratio"), 5).as("overlap_ratio"))
          .orderBy("doc_id")
      },
      Some(DecontaminateSql)),

    // Canonical corpus after near-dup collapse — the end-to-end "dedup
    // the corpus" operation: pairs → clusters → keep each cluster's
    // min-id representative plus all unpaired documents.
    Q("q_dedup_canonical",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = NearDupJ)
          .select("id_a", "id_b")
        Dedup.canonicalDocs(docs, "doc_id", pairs)
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      },
      Some(DedupSql.answer(DedupSql.shingles(), DedupSql.Lsh, DedupSql.Verified,
        DedupSql.closure())(
        s"SELECT doc_id, source FROM documents WHERE ${DedupSql.Survives} ORDER BY doc_id"))),

    // ---- Similarity search ----------------------------------------------

    // Brute-force exact cosine top-10 to a query vector (vec_id = 0):
    // one scan + TakeOrderedAndProject; double arithmetic, sequential
    // fold — bit-identical to DuckDB's list_cosine_similarity.
    Q("q_ann_bruteforce",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // headOption: an ABSENT query vector (empty corpus, or rows but
        // no vec_id 0) answers an EMPTY frame with the declared schema —
        // never head-of-empty throw, and never a synthetic zero-vector
        // probe (zero-norm cosine is engine-divergent and Spark would
        // still emit top-k rows where the oracle answers none). The
        // placeholder below only shapes the limit(0) plan.
        val queryOpt = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).collect().headOption
          .map(_.getSeq[Double](0).toArray)
        val plan = Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0),
            "vec_id", "embedding", queryOpt.getOrElse(Array.fill(64)(0.0)),
            k = 10)
          .select(col("vec_id"), round(col("sim"), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
        if (queryOpt.isDefined) plan else plan.limit(0)
      },
      // q is a CTE cross-joined (not a scalar subquery): an absent query
      // vector makes q empty and the join yields ZERO rows, matching the
      // engine's empty-frame contract — a scalar subquery would instead
      // yield NULL sims and still emit k rows.
      Some("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0)
             |SELECT e.vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.v), 6) AS sim
             |FROM embeddings e, q WHERE e.vec_id <> 0
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin.replace("\n", " "))),

    // Embedding near-dup pairs, exact all-pairs at oracle scale (the
    // LSH-blocked variant is q_ann_lsh / Similarity.nearDupPairs).
    Q("q_embed_neardup",
      (s, d) => Similarity.allPairs(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy("id_a", "id_b"),
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |CAST(b.embedding AS DOUBLE[])), 6) AS sim
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |CAST(b.embedding AS DOUBLE[])) >= 0.4
             |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "))),

    // L2 normalization of the embedding column (norm + first unit
    // component; normalized storage turns cosine into a dot product).
    Q("q_embed_norm",
      (s, d) => {
        val v = col("embedding").cast("array<double>")
        val norm = sqrt(aggregate(transform(v, x => x * x), lit(0.0d), (a, x) => a + x))
        Tables.embeddings(s, d)
          .select(col("vec_id"), round(norm, 6).as("norm"),
            round(element_at(Similarity.l2Normalize(col("embedding")), 1), 6).as("u1"))
          .orderBy("vec_id")
      },
      // zero-norm guard MIRRORS l2Normalize's `when(n > 0).otherwise(d)`:
      // an all-zero embedding (dead/padded vector) divides 0/0 -> NaN in
      // an unguarded oracle — fixture-dependent pass made data-independent
      Some("""SELECT vec_id, round(sqrt(s2), 6) AS norm,
             |round(CASE WHEN s2 > 0 THEN l[1] / sqrt(s2) ELSE l[1] END, 6) AS u1
             |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS l,
             |list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS s2
             |FROM embeddings) t ORDER BY vec_id""".stripMargin.replace("\n", " "))),

    // Symmetric int8 quantization round-trip: per-vector scale, first
    // quantized component, and max absolute reconstruction error — the
    // storage-shrink path for ANN index extracts, oracle-checked
    // end-to-end (quantize AND dequantize math).
    Q("q_quantize",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qv = Similarity.quantize8(col("embedding"))
        emb.select(col("vec_id"), qv.as("__qv"),
            col("embedding").cast("array<double>").as("__v"))
          .select(col("vec_id"),
            round(col("__qv.scale"), 6).as("scale"),
            element_at(col("__qv.q"), 1).cast("int").as("q1"),
            round(aggregate(
              zip_with(col("__v"), Similarity.dequantize8(col("__qv")),
                (x, y) => abs(x - y)),
              lit(0.0d), (acc, e) => greatest(acc, e)), 6).as("max_err"))
          .orderBy("vec_id")
      },
      // zero-vector guard MIRRORS quantize8's `when(maxabs > 0)` branch
      // (scale 0, zero codes, zero error) — the unguarded oracle would
      // compute 0/0 on a dead vector and fail on realistic data
      Some("""SELECT vec_id, round(CASE WHEN maxabs > 0 THEN maxabs / 127.0 ELSE 0 END, 6) AS scale,
             |CAST(CASE WHEN maxabs > 0 THEN round(l[1] / maxabs * 127.0) ELSE 0 END AS INTEGER) AS q1,
             |round(CASE WHEN maxabs > 0 THEN list_max(list_transform(l,
             |x -> abs(x - round(x / maxabs * 127.0) * maxabs / 127.0))) ELSE 0 END, 6) AS max_err
             |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS l,
             |list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
             |FROM embeddings) t ORDER BY vec_id""".stripMargin.replace("\n", " "))),

    // Per-dimension embedding health: n/mean/stddev/min/max for every
    // vector component — the dead-dimension / scale-drift audit run
    // before trusting an embedding column for ANN or semantic dedup.
    // One posexplode + one dim-keyed agg (dims << corpus, map-side
    // combined); per-value terms are quantized (6/10 dp) and
    // DECIMAL-summed so mean/stddev are order-independent and
    // engine-identical; variance is clamped at 0 before sqrt.
    Q("q_embed_stats",
      (s, d) => {
        val ev = Tables.embeddings(s, d)
          .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
          .select(col("dim").cast(LongType).as("dim"), col("v"),
            round(col("v"), 6).cast("decimal(18,6)").as("rv"),
            round(col("v") * col("v"), 10).cast("decimal(20,10)").as("rsq"))
        ev.groupBy("dim")
          .agg(count(lit(1)).cast(LongType).as("n"),
            round(sum(col("rv")).cast(DoubleType) / count(lit(1)), 6).as("mean"),
            round(sqrt(greatest(lit(0.0),
              (sum(col("rsq")).cast(DoubleType) -
                pow(sum(col("rv")).cast(DoubleType), 2) / count(lit(1))) / count(lit(1)))), 5)
              .as("stddev"),
            round(min(col("v")), 6).as("vmin"),
            round(max(col("v")), 6).as("vmax"))
          .orderBy("dim")
      },
      Some("""WITH ev AS (SELECT CAST(i - 1 AS BIGINT) AS dim,
             |CAST(embedding[i] AS DOUBLE) AS v FROM embeddings,
             |LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i))
             |SELECT dim, CAST(count(*) AS BIGINT) AS n,
             |round(CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean,
             |round(sqrt(greatest(0, (CAST(sum(CAST(round(v * v, 10) AS DECIMAL(20,10))) AS DOUBLE)
             |- pow(CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS DOUBLE), 2) / count(*)) / count(*))), 5) AS stddev,
             |round(min(v), 6) AS vmin, round(max(v), 6) AS vmax
             |FROM ev GROUP BY dim ORDER BY dim""".stripMargin.replace("\n", " "))),

    // Batch ANN join, exact: top-3 corpus neighbors for EVERY query
    // vector (vec_id < 5 are queries) — the retrieval/attribution shape;
    // the LSH multi-probe variant (Similarity.annJoin) is the scale path,
    // recall-spec'd in ExtensionsSpec.
    Q("q_ann_join",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.annJoinExact(emb.filter(col("vec_id") < 5),
            emb.filter(col("vec_id") >= 5), "vec_id", "embedding", k = 3)
          .select(col("query_id"), col("match_id"), round(col("sim"), 6).as("sim"))
          .orderBy("query_id", "match_id")
      },
      Some("""SELECT query_id, match_id, round(sim, 6) AS sim FROM (
             |SELECT q.vec_id AS query_id, c.vec_id AS match_id,
             |list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |CAST(c.embedding AS DOUBLE[])) AS sim,
             |row_number() OVER (PARTITION BY q.vec_id
             |ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rk
             |FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND c.vec_id >= 5) t
             |WHERE rk <= 3 ORDER BY query_id, match_id""".stripMargin.replace("\n", " "))),

    // ANN index recall audit — the end-metric companion of the geometry
    // audits (q_minhash_band_stats for LSH banding, q_ivf_stats for IVF,
    // q_minhash_estimate for sketch accuracy): per probe, recall@10 of
    // the sign-LSH multi-probe tier against the exact top-10. The exact
    // leg is the oracle-scale ground truth a 100 TB deployment runs on a
    // SAMPLED probe set only; the approximate leg is the serving path —
    // the audit is what licenses (or vetoes) swapping the exact stage
    // out. Fully oracle-checked: the hyperplanes are deterministic md5
    // math, so the SQL inlines them and replays bucket membership, the
    // radius-2 probe set, both rank windows, and the hit intersection.
    Q("q_ann_recall_audit",
      (s, d) => recallAudit(s, d, (probes, corpus) =>
        Similarity.annJoin(probes, corpus, "vec_id", "embedding", AuditK,
          nPlanes = LshPlanes, probeRadius = LshRadius)),
      Some(AnnSql.audit(AnnSql.Lsh,
        AnnSql.top("ap", s"lsh WHERE dist <= $LshRadius", "sim", AuditK)))),

    // The SQ8 tier's recall audit — the OTHER quantization family:
    // symmetric int8 scalar quantization (Similarity.quantize8, 4×
    // smaller storage) serving brute-force cosine over DEQUANTIZED
    // codes. Completes the size/recall tradeoff table the PQ ladder
    // started: SQ8 keeps the scan cost but shrinks the bytes 4×; PQ
    // shrinks 64× and pays in recall (X161–X168). The audit is the
    // number that tells a deployment which compression tier its recall
    // bar allows. Oracle replays quantize→dequantize (same operation
    // order, scale FACTORED as maxabs/127 exactly like the Spark side)
    // →cosine→rank→intersect.
    //
    // NOT recallAudit: SQ8's approx leg is BY DESIGN a full scan (the
    // tier trades bytes, not scan cost), so the generic two-leg shape
    // would read the identical probes×corpus pairs twice. Instead ONE
    // cross-join pass computes BOTH cosines per pair (raw and
    // dequantized — the dequantize is one more codegen'd expression on
    // a row already in hand) into a leaf-materialized pair table, and
    // both rank windows are cache scans over it — the X160
    // sampled-ground-truth posture extended to the approx leg, halving
    // the corpus scans of the round's worst ×64 exponent (50.0).
    Q("q_sq8_recall_audit",
      (s, d) => {
        val (probes, corpus) = annSplit(s, d)
        val k = AuditK
        if (corpus.select(col("vec_id")).take(1).isEmpty)
          probes.select(col("vec_id").as("query_id"),
            lit(0L).as("n_hits"), lit(0.0).as(s"recall_at_$k")).limit(0)
        else {
          // broadcast the PROBE side: a nested-loop join streams the
          // non-broadcast side, so building the corpus instead would
          // push every pair's cosine through as many tasks as there are
          // probe rows (5) — parallelism must follow the corpus scan.
          // Plain columnar persist, not materializeLeaf: no iterative
          // plan growth here, and the RDD round-trip would drop the
          // pair build out of codegen for a row-conversion pass
          val pairs = broadcast(probes
            .select(col("vec_id").as("query_id"), col("embedding").as("__qv")))
            .crossJoin(corpus.select(col("vec_id").as("match_id"),
              col("embedding").as("__cv"),
              Similarity.dequantize8(Similarity.quantize8(col("embedding")))
                .as("__dv")))
            .select(col("query_id"), col("match_id"),
              Similarity.cosine(col("__qv"), col("__cv")).as("sim_exact"),
              Similarity.cosine(col("__qv"), col("__dv")).as("sim_sq8"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          def top(simCol: String) = {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id"))
              .orderBy(col(simCol).desc, col("match_id"))
            pairs.withColumn("__rk", row_number().over(w))
              .filter(col("__rk") <= k).select("query_id", "match_id")
          }
          val exact = top("sim_exact")
          val hits = exact.join(top("sim_sq8"), Seq("query_id", "match_id"))
            .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
          val out = exact.select("query_id").distinct()
            .join(hits, Seq("query_id"), "left")
            .select(col("query_id"),
              coalesce(col("n_hits"), lit(0L)).as("n_hits"),
              round(coalesce(col("n_hits"), lit(0L)).cast(DoubleType) /
                lit(k.toDouble), 4).as(s"recall_at_$k"))
            .orderBy("query_id")
          Dedup.eagerly(out, pairs)
        }
      },
      Some(AnnSql.audit(AnnSql.Sq8,
        AnnSql.top("ap", "sq8", "sim", AuditK)))),

    // The IVF tier's recall audit — q_ann_recall_audit's pattern applied
    // to the second approximate neighbor stage: per probe, recall@10 of
    // the nProbe=2-of-8-cells IVF join against the exact top-10. An IVF
    // deployment's recall is governed by nProbe/m; this is the query
    // that tells you whether the chosen probe budget holds the recall
    // bar BEFORE the exact stage is switched off. Oracle replays the
    // id-rank centroids, the cell assignment, the probe sets, both rank
    // windows, and the hit intersection — every stage from relational
    // state alone.
    Q("q_ivf_recall_audit",
      (s, d) => recallAudit(s, d, (probes, corpus) =>
        Similarity.ivfJoin(probes, corpus, "vec_id", "embedding", AuditK,
          m = Cells, nProbe = NProbe)),
      Some(AnnSql.audit(AnnSql.cells(0),
        AnnSql.probe(NProbe), AnnSql.InCell,
        AnnSql.top("ap", "ivfc", "sim", AuditK)))),

    // The recall audit of the IVF tier a deployment actually SHIPS:
    // q_ivf_recall_audit measures the id-rank-seeded centroids
    // (kmeansIters = 0), but writeIvfIndex builds with Lloyd-refined
    // centroids by default — the number that licenses switching the
    // exact stage off is the refined tier's. Lloyd's is deterministic
    // given the id-rank seeds and a fixed iteration count, so the
    // oracle replays the iterations relationally (AnnSql.cells). Two
    // rounds (LloydIters): measured on this fixture the
    // refined tier's recall@10 strictly dominates the id-rank tier's
    // per probe (and further iterations overfit an unclustered corpus —
    // k-means converges to a partition whose 2-of-8 probe geometry is
    // no better; the audit is exactly the query that would catch that).
    Q("q_ivf_recall_refined",
      (s, d) => recallAudit(s, d, (probes, corpus) =>
        Similarity.ivfJoin(probes, corpus, "vec_id", "embedding", AuditK,
          m = Cells, nProbe = NProbe, kmeansIters = LloydIters)),
      Some(AnnSql.audit(AnnSql.cells(LloydIters),
        AnnSql.probe(NProbe), AnnSql.InCell,
        AnnSql.top("ap", "ivfc", "sim", AuditK)))),

    // The nProbe dial priced as a CURVE: mean recall@10 of the IVF
    // join per probe budget nProbe ∈ 1..8, one row per budget, in ONE
    // pass (Similarity.ivfProbeCurve — all budgets share one cell
    // equi-join; each candidate explodes to the budgets that would
    // read it). A single-point audit (q_ivf_recall_audit) says whether
    // 2-of-8 holds the recall bar; the curve says what budget WOULD —
    // the number an IVF deployment tunes against. Monotone by
    // construction and saturating at recall 1.0 when the budget reads
    // every cell (the built-in sanity anchor).
    Q("q_ivf_probe_curve",
      (s, d) => {
        val (probes, corpus) = annSplit(s, d)
        Similarity.ivfProbeCurve(probes, corpus, "vec_id", "embedding",
          k = AuditK, m = Cells)
      },
      Some(AnnSql.curve("n_probe", 1 to Cells)(
        AnnSql.cells(0), AnnSql.probe(Cells), AnnSql.InCell,
        "expl AS (SELECT ivfc.*, dial.n_probe FROM ivfc JOIN dial ON ivfc.cellrank <= dial.n_probe)",
        AnnSql.top("ap", "expl", "sim", AuditK, "n_probe")))),

    // The IVF-PQ tier's recall audit (r14) — the LAST unaudited
    // approximate stage: LSH (X149) and IVF (X152/X154) have recall
    // audits, but the tier a billion-scale deployment actually serves
    // from is IVF-PQ (cells + ADC over codes), whose loss has TWO
    // sources the single-tier audits can't see together: the probe
    // budget (cells not read) and the quantization error (ADC
    // misranking within read cells). Per probe, recall@10 of
    // Similarity.ivfPqJoin (m=8, nProbe=2, pqM=4, ks=8) vs the exact
    // top-10. The oracle replays the full composition — id-rank
    // codebook seeds, per-subvector code assignment, centroid
    // assignment, probe sets, the ordered ADC fold, both rank windows,
    // the hit intersection — from relational state alone (the q_ivf_pq
    // CTEs + the audit tail). Sub-ks corpora: ivfPqJoin skips (no
    // quantizer to build → empty approx leg → all-zero n_hits rows),
    // and the oracle's codebook seeds gate on the same count(corp) >= ks
    // predicate (AnnSql.codes) — BOTH sides answer the all-zero audit
    // for a 1..ks−1-row corpus, closing the contract on every corpus
    // size, not just the full/empty/one-row fixtures.
    Q("q_pq_recall_audit",
      (s, d) => recallAudit(s, d, (probes, corpus) =>
        Similarity.ivfPqJoin(probes, corpus, "vec_id", "embedding", AuditK,
          m = Cells, nProbe = NProbe, pqM = PqM, pqKs = PqKs)),
      Some(AnnSql.audit(AnnSql.cells(0),
        AnnSql.probe(NProbe), AnnSql.codes(residual = false),
        AnnSql.adc(residual = false), AnnSql.top("ap", "adc", "adc", AuditK)))),

    // The PQ re-rank tier (r15) — the fix for the loss X161 just
    // priced: q_pq_recall_audit measures the pure-ADC tier at recall@10
    // 0.0–0.2 (pqM=4 crushes 64 dims into 4 codes; ADC misranks within
    // the probed cells), so a deployment serving raw IVF-PQ returns
    // junk. The standard refine stage (ADC shortlist of refine·k=80 →
    // exact-cosine re-rank of ONLY those ids) recovers the recall ADC
    // threw away, at refine·k point reads per query — measured here
    // 0.32 vs 0.10, sitting just under the id-rank IVF tier's 0.36
    // ceiling (X152): what the re-rank CANNOT recover is cell
    // selection, which is q_pq_rerank_refined's dial. Same fixture, same
    // geometry (m=8, nProbe=2, pqM=4, ks=8, refine·k=80) as X161, so the two audits
    // are the before/after pair of the same dial; dominance per query
    // is structural (the exact top-10 of a shortlist contains every
    // true top-10 member the shortlist contains, and ADC-top-10 ⊆
    // ADC-top-40). Oracle = X161's CTE chain through `adc`, then the
    // shortlist window and the exact re-rank window — all relational.
    // Sub-ks corpora: ivfPqRerankJoin inherits ivfPqJoin's skip (empty
    // approx leg), and the oracle's codebook carries the same
    // count(corp) >= ks gate, so both sides answer the all-zero audit
    // on every corpus size.
    Q("q_pq_rerank",
      (s, d) => recallAudit(s, d, (probes, corpus) =>
        Similarity.ivfPqRerankJoin(probes, corpus, "vec_id", "embedding", AuditK,
          m = Cells, nProbe = NProbe, pqM = PqM, pqKs = PqKs, refine = Refine)),
      Some(AnnSql.audit(AnnSql.cells(0),
        AnnSql.probe(NProbe), AnnSql.codes(residual = false),
        AnnSql.adc(residual = false), AnnSql.rerank("adc")))),

    // The full serving recipe the PQ stack would actually SHIP (r15):
    // Lloyd-2-refined coarse quantizer (X154's tier — cell selection is
    // the one loss a re-rank cannot recover, so the refined centroids
    // matter most here) + ADC shortlist over codes + exact re-rank of
    // the refine·k=80 shortlist. Measured recall@10 0.44 vs the exact
    // IVF refined tier's 0.48 ceiling (X154) — the ADC+rerank stack
    // gives back nearly the whole quantization loss while the serving
    // index stays 64× smaller than the floats (4 one-byte codes vs 64
    // doubles). The ladder the committed audits now price end-to-end:
    // pure ADC 0.10 (X161) → +rerank 0.32 (X162) → +refined cells 0.44
    // (this) vs exact-in-cell 0.36/0.48 (X152/X154). Oracle composes
    // the two proven replays — X154's unrolled Lloyd rounds for cents2
    // and X161's codebook/code/ADC chain — plus the two rank windows.
    Q("q_pq_rerank_refined",
      (s, d) => recallAudit(s, d, (probes, corpus) =>
        Similarity.ivfPqRerankJoin(probes, corpus, "vec_id", "embedding", AuditK,
          m = Cells, nProbe = NProbe, pqM = PqM, pqKs = PqKs, refine = Refine,
          kmeansIters = LloydIters)),
      Some(AnnSql.audit(AnnSql.cells(LloydIters),
        AnnSql.probe(NProbe), AnnSql.codes(residual = false),
        AnnSql.adc(residual = false), AnnSql.rerank("adc")))),

    // The COMPLETE PQ serving stack (r15): Lloyd-2-refined coarse
    // quantizer + RESIDUAL codes + ADC shortlist + exact re-rank — every
    // increment the audits priced separately, composed. Measured
    // recall@10: 0.48, per-query IDENTICAL to the exact-in-cell refined
    // tier (X154's 0.5/0.5/0.4/0.6/0.4): the residual shortlist is
    // tight enough that the top-80 ADC candidates contain every in-cell
    // true hit, so the exact re-rank recovers the ENTIRE quantization
    // loss — the 64×-smaller serving index gives up nothing vs reading
    // raw floats in the probed cells. The full ladder the audit tier
    // now prices: ADC 0.10 (X161) → +rerank 0.32 (X162) → +refined
    // cells 0.44 (X163) → +residual codes 0.48 (this) == the X154
    // ceiling; what remains is pure cell selection (nProbe, X155's
    // curve). Oracle composes all three proven replays.
    Q("q_pq_full_stack",
      (s, d) => recallAudit(s, d, (probes, corpus) =>
        Similarity.ivfPqRerankJoin(probes, corpus, "vec_id", "embedding", AuditK,
          m = Cells, nProbe = NProbe, pqM = PqM, pqKs = PqKs, refine = Refine,
          kmeansIters = LloydIters, residual = true)),
      Some(AnnSql.audit(AnnSql.cells(LloydIters),
        AnnSql.probe(NProbe), AnnSql.codes(residual = true),
        AnnSql.adc(residual = true), AnnSql.rerank("adc")))),

    // The nProbe dial of the FULL PQ serving stack, priced as a curve
    // (r15): X155 curves the exact-in-cell tier, but the tier that
    // ships (X166's refined cells + residual codes + ADC shortlist +
    // re-rank) has a second budget — refine·k — and the two INTERACT:
    // measured, the curve climbs 0.24 → 0.48 (nProbe=2) → peaks 0.50 at
    // 3 → sits FLAT at 0.48 to m=8. It never saturates at 1.0: past
    // nProbe≈3 the fixed top-80 shortlist is the binding constraint,
    // and extra probed cells only add ADC candidates that crowd true
    // hits out of it (the 4→8 dip from 0.50). That is the purchasing
    // decision this query exists to price: more probes without more
    // refine stops paying. One pass — each ADC candidate explodes to
    // the budgets that would read its cell, both rank windows run per
    // (query, budget), the exact leg is leaf-materialized once and
    // released. Oracle composes the X166 chain with X155's budget
    // explode.
    Q("q_pq_probe_curve",
      (s, d) => {
        val (probes, corpus) = annSplit(s, d)
        Similarity.ivfPqRerankCurve(probes, corpus, "vec_id", "embedding",
          k = AuditK, m = Cells, pqM = PqM, pqKs = PqKs, refine = Refine,
          kmeansIters = LloydIters, residual = true)
      },
      Some(AnnSql.curve("n_probe", 1 to Cells)(
        AnnSql.cells(LloydIters), AnnSql.probe(Cells), AnnSql.codes(residual = true),
        AnnSql.adc(residual = true),
        """expl AS (SELECT a.query_id, a.match_id, a.adc, dial.n_probe FROM adc a
          |JOIN cand c ON c.query_id = a.query_id AND c.match_id = a.match_id
          |JOIN dial ON c.cellrank <= dial.n_probe)""".stripMargin,
        AnnSql.rerank("expl", "n_probe")))),

    // The refine dial of the full PQ stack, priced as a curve (r15) —
    // the companion of q_pq_probe_curve on the OTHER budget: X167 shows
    // that past nProbe≈3 the refine·k shortlist binds; this query
    // prices that knob directly at the deployed nProbe=2. Measured:
    // 0.20 → 0.26 → 0.36 → 0.48, saturating at refine=8 — the tier
    // where the shortlist holds every in-cell true hit. One pass: the
    // ADC rank is computed once, each candidate explodes to the refine
    // tiers whose shortlist would include it, and the exact re-rank
    // window runs per (query, tier); raw reads stay rank-gated at
    // max(refines)·k per query. The two curves together price the
    // (nProbe, refine) plane around the shipped (2, 8) point.
    Q("q_pq_refine_curve",
      (s, d) => {
        val (probes, corpus) = annSplit(s, d)
        Similarity.ivfPqRefineCurve(probes, corpus, "vec_id", "embedding",
          k = AuditK, refines = RefineTiers, m = Cells, nProbe = NProbe,
          pqM = PqM, pqKs = PqKs, kmeansIters = LloydIters, residual = true)
      },
      Some(AnnSql.curve("refine", RefineTiers)(
        AnnSql.cells(LloydIters), AnnSql.probe(NProbe), AnnSql.codes(residual = true),
        AnnSql.adc(residual = true),
        AnnSql.top("shortr", "adc", "adc", RefineTiers.max * AuditK),
        s"""expl AS (SELECT s.query_id, s.match_id, dial.refine FROM shortr s
           |JOIN dial ON s.rk <= dial.refine * $AuditK)""".stripMargin,
        AnnSql.top("ap", "expl JOIN pairs USING (query_id, match_id)", "sim", AuditK,
          "refine")))),

    // Residual PQ encoding's recall audit (r15) — the standard IVF-PQ
    // construction quantizes the RESIDUAL v − centroid(cell(v)) instead
    // of the raw vector, concentrating the ks-word budget on
    // within-cell variance; at probe time the query residualizes
    // against each probed cell's centroid, so ADC still estimates
    // ‖q − v‖². Measured regime (the finding this audit exists to
    // price): paired with Lloyd-2 cells it DOUBLES the pure-ADC floor
    // on this fixture (recall@10 mean 0.20 vs X161's 0.10, no re-rank
    // reads at all); paired with id-rank cells it actively HURTS (0.02
    // — the cells capture no structure, so the residuals just degrade
    // the codebook seeds). The audit gates the knob: residual=true
    // ships only with kmeansIters>0. Oracle composes X154's unrolled
    // Lloyd rounds, the residual lists, X161's codebook/code chain in
    // residual space, and the per-probed-cell query residualization.
    Q("q_pq_residual_audit",
      (s, d) => recallAudit(s, d, (probes, corpus) =>
        Similarity.ivfPqJoin(probes, corpus, "vec_id", "embedding", AuditK,
          m = Cells, nProbe = NProbe, pqM = PqM, pqKs = PqKs,
          kmeansIters = LloydIters, residual = true)),
      Some(AnnSql.audit(AnnSql.cells(LloydIters),
        AnnSql.probe(NProbe), AnnSql.codes(residual = true),
        AnnSql.adc(residual = true), AnnSql.top("ap", "adc", "adc", AuditK)))),

    // The LSH multi-probe RADIUS dial priced as a curve (r14) —
    // q_ivf_probe_curve's pattern on the third dial: mean recall@10 of
    // the sign-LSH join per probe radius 0..nPlanes in ONE pass (one
    // leaf-materialized pair table serves the exact leg, every radius
    // tier via `sequence(dist, nPlanes)`, and the denominator grid;
    // radius nPlanes admits every bucket, so the curve saturates at
    // 1.0). Together with X147 (band geometry), X149 (the deployed
    // radius-2 point) and X155/X159, every approximate-stage dial the
    // engine ships is priced by a committed curve, not a single point.
    Q("q_lsh_radius_curve",
      (s, d) => {
        val (probes, corpus) = annSplit(s, d)
        // empty-corpus guard: the q_ann_recall_audit note (and dimOf
        // cannot derive the plane dimension from an empty corpus)
        if (corpus.select(col("vec_id")).take(1).isEmpty)
          probes.select(lit(0).as("radius"), lit(0L).as("n_queries"),
            lit(0.0).as(s"mean_recall_at_$AuditK")).limit(0)
        else
          Similarity.lshRadiusCurve(probes, corpus, "vec_id", "embedding",
            k = AuditK, nPlanes = LshPlanes)
      },
      Some(AnnSql.curve("radius", 0 to LshPlanes)(
        AnnSql.Lsh,
        "expl AS (SELECT lsh.*, dial.radius FROM lsh JOIN dial ON lsh.dist <= dial.radius)",
        AnnSql.top("ap", "expl", "sim", AuditK, "radius")))),

    // The LSH geometry PICKER, replayed relationally (r15): X147/X159/
    // X160 price band stats, the jaccard dial, and the radius dial, but
    // the geometry itself (k signature components in bands of
    // band_rows) was a hardcoded 3×2 while the S-curve
    // 1−(1−j^r)^b makes (b, r) computable from the target threshold.
    // Dedup.lshGeometryFor picks the steepest shippable curve (max
    // rows, then min k over the ~19 chunked-md5-legal geometries) that
    // holds capture ≥ 0.9 at the threshold; this query tabulates the
    // full decision surface — every geometry × every swept threshold,
    // capture at 4dp, the picked row flagged — and the oracle
    // reproduces the CHOICE (same rank rule over the same IEEE-double
    // pow arithmetic), not just the curve. Pure literal-frame
    // arithmetic: zero corpus reads at any scale.
    Q("q_lsh_geometry",
      (s, _) => Dedup.lshGeometryTable(s,
        Seq(0.5, 0.6, 0.7, 0.8, 0.9, 0.95), minRecall = 0.9),
      Some("""WITH geoms AS (SELECT k, r AS band_rows, k // r AS bands
             |FROM range(2, 9) tk(k) JOIN range(1, 9) tr(r)
             |ON r <= k AND k % r = 0),
             |ts AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.6 AS DOUBLE),
             |CAST(0.7 AS DOUBLE), CAST(0.8 AS DOUBLE), CAST(0.9 AS DOUBLE),
             |CAST(0.95 AS DOUBLE)]) AS threshold),
             |caps AS (SELECT ts.threshold, g.k, g.band_rows, g.bands,
             |CAST(1.0 AS DOUBLE) - pow(CAST(1.0 AS DOUBLE) -
             |pow(ts.threshold, g.band_rows), g.bands) AS cap
             |FROM geoms g CROSS JOIN ts),
             |ranked AS (SELECT *, row_number() OVER (PARTITION BY threshold
             |ORDER BY (cap >= CAST(0.9 AS DOUBLE)) DESC, band_rows DESC, k) AS rk
             |FROM caps)
             |SELECT threshold, CAST(k AS INTEGER) AS k,
             |CAST(band_rows AS INTEGER) AS band_rows,
             |CAST(bands AS INTEGER) AS bands,
             |round(cap, 4) AS capture_at_t,
             |(cap >= CAST(0.9 AS DOUBLE) AND rk = 1) AS chosen
             |FROM ranked ORDER BY threshold, k, band_rows""".stripMargin
        .replace("\n", " "))),

    // Hard-negative mining for contrastive training: per query, the 5
    // most-similar corpus vectors with a DIFFERENT label — the mismatch
    // predicate restricts candidates BEFORE the top-k window so every
    // query yields k true negatives (post-filtering a plain top-k
    // under-delivers). Exact cosine is the oracle path over the small
    // probe set; at corpus scale the candidate stage swaps for the LSH
    // bucket join / IVF cell join with an over-fetched k (the
    // swappable-neighbor-stage pattern knnClassify pins).
    Q("q_hard_negatives",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.hardNegatives(emb.filter(col("vec_id") < 20), emb,
            "vec_id", "embedding", "label", k = 5)
          .select(col("query_id"), col("match_id"), round(col("sim"), 6).as("sim"))
          .orderBy("query_id", "match_id")
      },
      Some("""SELECT query_id, match_id, round(sim, 6) AS sim FROM (
             |SELECT q.vec_id AS query_id, c.vec_id AS match_id,
             |list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |CAST(c.embedding AS DOUBLE[])) AS sim,
             |row_number() OVER (PARTITION BY q.vec_id
             |ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rk
             |FROM embeddings q JOIN embeddings c
             |ON q.vec_id < 20 AND q.label <> c.label) t
             |WHERE rk <= 5 ORDER BY query_id, match_id""".stripMargin.replace("\n", " "))),

    // Z-order layout + 2-D box query (ops.Layout): the documents corpus
    // re-clustered on the Morton curve of (n_chars, token_count), box
    // slice answered with a STATIC quadtree-cell IN-filter on the
    // partition column (planning-time pruning, PlanSpec-pinned to ≤ the
    // intersecting cells) + the exact box predicate. The oracle answers
    // the same slice from the flat corpus — layout is pure physics, the
    // relation is unchanged. The "OPTIMIZE ZORDER" lever for every
    // two-dimensional curation slice at 100 TB: one repartition at
    // publish, no full scan at read, on ANY engine that prunes
    // directories.
    Q("q_zorder_box",
      (s, d) => {
        val path = Fixtures.ensureZLayout(s, d)
        graft.ops.Layout.boxQuery(s, path, "n_chars", "token_count",
            100, 300, 20, 50, Fixtures.ZBits, Fixtures.ZCells)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents
             |WHERE n_chars BETWEEN 100 AND 300
             |AND len(string_split(text, ' ')) BETWEEN 20 AND 50
             |GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "))),

    // Batch ANN join, IVF flavor: every query probes its 2 nearest of 8
    // coarse cells, candidates come from the cell equi-join, exact cosine
    // ranks top-3 — the third neighbor stage (exact / LSH / IVF), fully
    // oracle-checked: centroids are the 8 lowest-id CORPUS vectors, so
    // the SQL re-derives assignment (argmax via rank over cell sims,
    // ties to the larger cell = Spark's greatest(struct)), the per-query
    // probe set, and the final rank from scratch.
    Q("q_ivf_join",
      (s, d) => {
        val (probes, corpus) = annSplit(s, d)
        Similarity.ivfJoin(probes, corpus, "vec_id", "embedding",
            k = IvfJoinK, m = Cells, nProbe = NProbe)
          .select(col("query_id"), col("match_id"), round(col("sim"), 6).as("sim"))
          .orderBy("query_id", "match_id")
      },
      Some(AnnSql.answer(AnnSql.split(), AnnSql.cosine("pairs", "corp"),
        AnnSql.cells(0), AnnSql.probe(NProbe), AnnSql.InCell,
        AnnSql.top("ap", "ivfc", "sim", IvfJoinK))(
        "SELECT query_id, match_id, round(sim, 6) AS sim FROM ap ORDER BY query_id, match_id"))),

    // Sign-LSH ANN probe. Fully oracle-checked: the hyperplanes are
    // deterministic md5 math (Similarity.planeComponent), so the SQL
    // inlines them as literal DOUBLE arrays (Double.toString round-trips
    // exactly through DuckDB's decimal parser) and recomputes bucket
    // membership, the radius-2 multi-probe set (bit_count(xor) <= 2),
    // and the exact cosine rank over the probed subset.
    Q("q_ann_lsh",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // headOption: an absent query vector answers an empty frame, not
        // a synthetic zero-vector probe (the q_ann_bruteforce note)
        val queryOpt = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).collect().headOption
          .map(_.getSeq[Double](0).toArray)
        val plan = Similarity.lshTopK(emb.filter(col("vec_id") =!= 0),
            "vec_id", "embedding", queryOpt.getOrElse(Array.fill(64)(0.0)),
            k = 10, nPlanes = 4, probeRadius = 2)
          .select(col("vec_id"), round(col("sim"), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
        if (queryOpt.isDefined) plan else plan.limit(0)
      },
      Some {
        val planes = Similarity.hyperplanes(nPlanes = 4, dim = 64)
        def arr(p: Array[Double]) = p.map(_.toString).mkString("[", ",", "]")
        def bucketOf(v: String) = planes.zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN list_dot_product($v, ${arr(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
           |qb AS (SELECT ${bucketOf("v")} AS bucket FROM q),
           |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |${bucketOf("CAST(embedding AS DOUBLE[])")} AS bucket
           |FROM embeddings WHERE vec_id <> 0)
           |SELECT vec_id, round(sim, 6) AS sim FROM (
           |SELECT b.vec_id, list_cosine_similarity(b.v, q.v) AS sim
           |FROM b, q, qb WHERE bit_count(xor(b.bucket, qb.bucket)) <= 2
           |ORDER BY sim DESC, b.vec_id LIMIT 10)
           |ORDER BY sim DESC, vec_id""".stripMargin.replace("\n", " ")
      }),

    // ---- Multimodal ------------------------------------------------------

    // Binary-payload metadata: byte length + content digest over the
    // payload column (documents.text stands in for the opaque bytes; the
    // decode stage itself is the stubbed mapPartitions in Multimodal).
    Q("q_multimodal_meta",
      (s, d) => Multimodal.withPayload(Tables.documents(s, d))
        .select(col("doc_id"),
          col("meta.byte_len").as("byte_len"),
          col("meta.sha256").as("sha256"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, octet_length(encode(text)) AS byte_len,
             |sha256(text) AS sha256
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // REAL audio decode end to end: per-doc WAV payloads are synthesized
    // on executors from pure integer PCM (sample i of doc d is
    // ((d*31 + i*17) mod 401 − 200)·128, n = 200 + (d mod 5)·50 frames at
    // 8 kHz), decoded back through javax.sound.sampled
    // (Multimodal.withAudioStats), and reduced to the curation stats —
    // RMS / peak / silence ratio. Every stat is exact-rational arithmetic
    // over 16-bit integers (sums of k²·2⁻³⁰ stay exact in double), so the
    // oracle regenerates the identical PCM series in SQL and matches
    // bit-for-bit — no rounding anywhere. Proves the decode loop
    // (container parse, PCM conversion, frame walk, channel mix) is
    // byte-correct, not just schema-correct.
    Q("q_audio_stats",
      (s, d) => {
        import s.implicits._
        val wavs = Tables.documents(s, d).select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val n = 200 + (id % 5).toInt * 50
              val pcm = Array.tabulate[Short](n) { i =>
                (((id * 31 + i * 17) % 401 - 200) * 128).toShort
              }
              (id, Multimodal.synthWav(8000, pcm))
            }
          }.toDF("doc_id", "payload")
        Multimodal.withAudioStats(wavs)
          .select(col("doc_id"),
            col("audio_stats.sample_rate").as("sample_rate"),
            col("audio_stats.channels").as("channels"),
            col("audio_stats.n_frames").as("n_frames"),
            col("audio_stats.duration_s").as("duration_s"),
            col("audio_stats.rms").as("rms"),
            col("audio_stats.peak").as("peak"),
            col("audio_stats.silence_ratio").as("silence_ratio"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (SELECT doc_id, 200 + (doc_id % 5) * 50 AS n FROM documents),
             |s AS (SELECT f.doc_id, f.n,
             |((f.doc_id * 31 + t.i * 17) % 401 - 200) * 128 AS v
             |FROM f, LATERAL (SELECT unnest(range(0, f.n)) AS i) t)
             |SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
             |CAST(1 AS INTEGER) AS channels,
             |CAST(max(n) AS BIGINT) AS n_frames,
             |CAST(max(n) AS DOUBLE) / 8000 AS duration_s,
             |sqrt(CAST(sum(v * v) AS DOUBLE) / (max(n) * 1073741824.0)) AS rms,
             |CAST(max(abs(v)) AS DOUBLE) / 32768 AS peak,
             |CAST(count(*) FILTER (WHERE abs(v) < 327.68) AS DOUBLE) / max(n) AS silence_ratio
             |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Audio near-dup by RMS-envelope cosine: the decode stage's 16-bin
    // envelope (Multimodal.decodeAudio — the acoustic analog of the image
    // grid-luma signature) feeds the SAME exact-cosine pair stage the
    // embedding column uses (Similarity.allPairs), so "find near-dup
    // audio" composes two already-proven operators. Each doc's WAV gates
    // the q_audio_stats PCM series to silence in envelope bins
    // b ≡ doc_id (mod 4): docs sharing a gate mask have near-parallel
    // envelopes (cos ≈ 1), docs with different masks overlap on only 8 of
    // 12 active bins (cos ≈ 2/3), so the 0.8 threshold recovers exactly
    // the mask groups. Every arithmetic step — PCM ints, bin sums of
    // (v/2¹⁵)² (exact rationals in double), sqrt→float, double cosine —
    // is bit-reproducible in DuckDB, so the oracle re-derives the
    // envelopes from scratch and matches the pair set AND similarities.
    Q("q_audio_neardup",
      (s, d) => {
        import s.implicits._
        val wavs = Tables.documents(s, d).select(col("doc_id"))
          .filter(col("doc_id") < 120).as[Long]
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
          .select(col("doc_id"), col("features"))
        Similarity.allPairs(env, "doc_id", "features", threshold = 0.8)
          .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH f AS (SELECT doc_id, 200 + (doc_id % 5) * 50 AS n, doc_id % 4 AS g
             |FROM documents WHERE doc_id < 120),
             |s AS (SELECT f.doc_id, (t.i * 16) // f.n AS bin,
             |CASE WHEN ((t.i * 16) // f.n) % 4 = f.g THEN 0
             |ELSE ((f.doc_id * 31 + t.i * 17) % 401 - 200) * 128 END AS v
             |FROM f, LATERAL (SELECT unnest(range(0, f.n)) AS i) t),
             |env AS (SELECT doc_id, bin,
             |CAST(sqrt(CAST(sum(v * v) AS DOUBLE) / 1073741824.0 / count(*)) AS REAL) AS r
             |FROM s GROUP BY doc_id, bin),
             |vecs AS (SELECT doc_id, CAST(list(r ORDER BY bin) AS DOUBLE[]) AS v
             |FROM env GROUP BY doc_id)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |round(list_cosine_similarity(a.v, b.v), 6) AS sim
             |FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id
             |WHERE list_cosine_similarity(a.v, b.v) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "))),

    // REAL image decode end to end, bit-exact: per-doc PNGs synthesized
    // on executors from a pure integer pixel formula (RGB channel c of
    // pixel (x,y) is a linear form in (doc_id, x, y) mod 256; PNG
    // round-trips 24-bit RGB losslessly), decoded back through ImageIO
    // (Multimodal.withImageGrid) to the 4×4 INTEGER-luma grid: per cell
    // one Long sum of 299R+587G+114B and ONE double division — no float
    // accumulation anywhere, so the oracle re-derives every mean from
    // the formula alone and matches bit-for-bit. The image twin of
    // q_audio_stats' decode proof (container parse, raster walk, channel
    // unpack are byte-correct, not just schema-correct).
    Q("q_image_stats",
      (s, d) => {
        import s.implicits._
        val pngs = Tables.documents(s, d).select(col("doc_id"))
          .filter(col("doc_id") < 150).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val w = 32 + (id % 5).toInt * 4
              val h = 32 + (id % 3).toInt * 8
              (id, Multimodal.synthPng(w, h, (x, y) => {
                val r = ((id * 7 + x * 11 + y * 13) % 256).toInt
                val g = ((id * 3 + x * 5 + y * 17) % 256).toInt
                val b = ((id * 19 + x * 23 + y * 29) % 256).toInt
                (r << 16) | (g << 8) | b
              }))
            }
          }.toDF("doc_id", "payload")
        Multimodal.withImageGrid(pngs)
          .select(col("doc_id"), col("width"), col("height"),
            posexplode(col("grid")).as(Seq("cell", "mean_luma")))
          .orderBy("doc_id", "cell")
      },
      Some("""WITH f AS (SELECT doc_id, 32 + (doc_id % 5) * 4 AS w,
             |32 + (doc_id % 3) * 8 AS h FROM documents WHERE doc_id < 150),
             |px AS (SELECT f.doc_id, f.w, f.h,
             |((ty.y * 4) // f.h) * 4 + ((tx.x * 4) // f.w) AS cell,
             |299 * ((f.doc_id * 7 + tx.x * 11 + ty.y * 13) % 256)
             |+ 587 * ((f.doc_id * 3 + tx.x * 5 + ty.y * 17) % 256)
             |+ 114 * ((f.doc_id * 19 + tx.x * 23 + ty.y * 29) % 256) AS luma
             |FROM f, LATERAL (SELECT unnest(range(0, f.w)) AS x) tx,
             |LATERAL (SELECT unnest(range(0, f.h)) AS y) ty)
             |SELECT doc_id, CAST(max(w) AS INTEGER) AS width,
             |CAST(max(h) AS INTEGER) AS height, CAST(cell AS INTEGER) AS cell,
             |CAST(sum(luma) AS DOUBLE) / (count(*) * 255000.0) AS mean_luma
             |FROM px GROUP BY doc_id, cell
             |ORDER BY doc_id, cell""".stripMargin.replace("\n", " "))),

    // Image near-dup by grid-luma cosine — the visual twin of
    // q_audio_neardup, composing the bit-exact decode grid with the SAME
    // exact-cosine pair stage (Similarity.allPairs). Each doc blacks out
    // grid column g = doc_id mod 4: same-mask docs share a zero pattern
    // over near-constant active means (cos ≥ 0.93 on this corpus),
    // cross-mask docs overlap on only 8 of 12 active cells (cos ≤ 0.69),
    // so the 0.8 threshold recovers exactly the mask groups; the oracle
    // re-derives grids and pair set from the pixel formula.
    Q("q_image_neardup",
      (s, d) => {
        import s.implicits._
        val pngs = Tables.documents(s, d).select(col("doc_id"))
          .filter(col("doc_id") < 100).as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val w = 32 + (id % 5).toInt * 4
              val h = 32 + (id % 3).toInt * 8
              val g = (id % 4).toInt
              (id, Multimodal.synthPng(w, h, (x, y) => {
                if (x * 4 / w == g) 0
                else {
                  val r = ((id * 7 + x * 11 + y * 13) % 256).toInt
                  val gc = ((id * 3 + x * 5 + y * 17) % 256).toInt
                  val b = ((id * 19 + x * 23 + y * 29) % 256).toInt
                  (r << 16) | (gc << 8) | b
                }
              }))
            }
          }.toDF("doc_id", "payload")
        val env = Multimodal.withImageGrid(pngs)
          .select(col("doc_id"), col("grid").cast("array<float>").as("features"))
        Similarity.allPairs(env, "doc_id", "features", threshold = 0.8)
          .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH f AS (SELECT doc_id, 32 + (doc_id % 5) * 4 AS w,
             |32 + (doc_id % 3) * 8 AS h, doc_id % 4 AS g
             |FROM documents WHERE doc_id < 100),
             |px AS (SELECT f.doc_id,
             |((ty.y * 4) // f.h) * 4 + ((tx.x * 4) // f.w) AS cell,
             |CASE WHEN (tx.x * 4) // f.w = f.g THEN 0 ELSE
             |299 * ((f.doc_id * 7 + tx.x * 11 + ty.y * 13) % 256)
             |+ 587 * ((f.doc_id * 3 + tx.x * 5 + ty.y * 17) % 256)
             |+ 114 * ((f.doc_id * 19 + tx.x * 23 + ty.y * 29) % 256) END AS luma
             |FROM f, LATERAL (SELECT unnest(range(0, f.w)) AS x) tx,
             |LATERAL (SELECT unnest(range(0, f.h)) AS y) ty),
             |env AS (SELECT doc_id, cell,
             |CAST(CAST(sum(luma) AS DOUBLE) / (count(*) * 255000.0) AS REAL) AS m
             |FROM px GROUP BY doc_id, cell),
             |vecs AS (SELECT doc_id, CAST(list(m ORDER BY cell) AS DOUBLE[]) AS v
             |FROM env GROUP BY doc_id)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |round(list_cosine_similarity(a.v, b.v), 6) AS sim
             |FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id
             |WHERE list_cosine_similarity(a.v, b.v) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "))),

    // Record linkage: scalable fuzzy (edit-distance) join
    // (ops.Linkage.fuzzyJoin) — BLOCK (lowercased 3-char prefix key +
    // length band, the only shuffle) → VERIFY (codegen'd levenshtein on
    // candidates only), the same collision-driven shape as every banded
    // pipeline here, never n·m distance evaluations. The right side is
    // a deterministic typo corpus (5th char deleted from every 3rd
    // doc's normalized head), so the oracle rebuilds both sides and the
    // identical candidate/verify cascade; at sf0.01 blocking cuts
    // 400×134 potential pairs to ~1.8k candidates. ORACLE DOMAIN NOTE
    // (r10 sweep): DuckDB's levenshtein counts BYTES, Spark's counts
    // CODEPOINTS — identical on this ASCII fixture corpus; the Unicode
    // contract is oracle-checked by q_fuzzy_join_unicode below (and
    // spec-pinned in ExtensionsSpec "fuzzy join edit distance counts
    // codepoints").
    Q("q_fuzzy_join",
      (s, d) => {
        val a = Tables.documents(s, d).filter(col("doc_id") < 400)
          .select(col("doc_id").as("id_a"),
            lower(substring(col("text"), 1, 40)).as("s_a"))
        val b = a.filter(col("id_a") % 3 === 0)
          .select((col("id_a") + 20000).as("id_b"),
            concat(substring(col("s_a"), 1, 4), expr("substring(s_a, 6)")).as("s_b"))
        graft.ops.Linkage.fuzzyJoin(a, b, "s_a", "s_b",
            maxDist = 2, prefixLen = 3)
          .select(col("id_a"), col("id_b"), col("dist"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH a AS (SELECT doc_id AS id_a, lower(substr(text, 1, 40)) AS s_a
             |FROM documents WHERE doc_id < 400),
             |b AS (SELECT id_a + 20000 AS id_b,
             |substr(s_a, 1, 4) || substr(s_a, 6) AS s_b
             |FROM a WHERE id_a % 3 = 0)
             |SELECT id_a, id_b, CAST(levenshtein(s_a, s_b) AS INTEGER) AS dist
             |FROM a JOIN b ON lower(substr(s_a, 1, 3)) = lower(substr(s_b, 1, 3))
             |AND abs(length(s_a) - length(s_b)) <= 2
             |WHERE levenshtein(s_a, s_b) <= 2
             |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "))),

    // The fuzzy join's UNICODE contract, oracle-checked (closing the r10
    // domain note that left q_fuzzy_join oracle-valid only on ASCII):
    // every string is wrapped in multibyte codepoints (é=2 bytes,
    // ß=2, ü=2), and the typo corpus deletes a codepoint AND appends a
    // multibyte one, so byte-counting and codepoint-counting levenshtein
    // genuinely DISAGREE on these pairs (3 vs 2 on the seed pair).
    // Spark computes codepoint distance natively; the oracle recovers
    // codepoint semantics from DuckDB's byte-counting levenshtein by
    // bijectively remapping the three multibyte chars onto single-byte
    // control sentinels (chr(1..3), absent from any corpus string) —
    // translate/substr/length are already character-based in both
    // engines, so only the distance needed the remap. A byte-counting
    // regression on the Spark side hash-mismatches immediately.
    Q("q_fuzzy_join_unicode",
      (s, d) => {
        val a = Tables.documents(s, d).filter(col("doc_id") < 200)
          .select(col("doc_id").as("id_a"),
            concat(lit("é"), lower(substring(col("text"), 1, 20)),
              lit("ß")).as("s_a"))
        val b = a.filter(col("id_a") % 3 === 0)
          .select((col("id_a") + 30000).as("id_b"),
            concat(substring(col("s_a"), 1, 5), expr("substring(s_a, 7)"),
              lit("ü")).as("s_b"))
        graft.ops.Linkage.fuzzyJoin(a, b, "s_a", "s_b",
            maxDist = 3, prefixLen = 3)
          .select(col("id_a"), col("id_b"), col("dist"))
          .orderBy("id_a", "id_b")
      },
      Some(("""WITH a AS (SELECT doc_id AS id_a,
             |'é' || lower(substr(text, 1, 20)) || 'ß' AS s_a
             |FROM documents WHERE doc_id < 200),
             |b AS (SELECT id_a + 30000 AS id_b,
             |substr(s_a, 1, 5) || substr(s_a, 7) || 'ü' AS s_b
             |FROM a WHERE id_a % 3 = 0),
             |cand AS (SELECT id_a, id_b,
             |levenshtein(translate(s_a, 'éßü', chr(1)||chr(2)||chr(3)),
             |translate(s_b, 'éßü', chr(1)||chr(2)||chr(3))) AS cp_dist
             |FROM a JOIN b ON lower(substr(s_a, 1, 3)) = lower(substr(s_b, 1, 3))
             |AND abs(length(s_a) - length(s_b)) <= 3)
             |SELECT id_a, id_b, CAST(cp_dist AS INTEGER) AS dist
             |FROM cand WHERE cp_dist <= 3
             |ORDER BY id_a, id_b""").stripMargin.replace("\n", " "))),

    // CDC over the snapshot store (etl.Versioned.diff): the row-level
    // change feed between two committed versions — keyed full-outer
    // join of (key, row-hash) projections, classified insert / delete /
    // update. Both versions are pure functions of the documents table
    // (Fixtures.ensureVersionedDiff publishes them through the REAL
    // manifest + pointer-flip path), so the oracle recomputes the two
    // snapshots logically and re-derives the same feed without touching
    // the store. What an incremental downstream consumer reads at
    // 100 TB instead of re-scanning the new snapshot: one narrow
    // (key, hash) shuffle per side, feed size O(changes).
    Q("q_version_diff",
      (s, d) => {
        val root = Fixtures.ensureVersionedDiff(s, d)
        // the LAST two versions: a fixture build that crashed between
        // its publishes and re-ran leaves superseded early versions
        // behind (re-publish-supersedes recovery) — the newest pair is
        // always the completed v1/v2
        val vs = graft.etl.Versioned.listVersions(s, root).sorted
        graft.etl.Versioned.diff(s, root, vs(vs.size - 2), vs.last,
            keyCols = Seq("doc_id"), compareCols = Seq("text"))
          .groupBy("change_type")
          .agg(count(lit(1)).as("n"),
            min(col("doc_id")).as("min_key"), max(col("doc_id")).as("max_key"))
          .orderBy("change_type")
      },
      Some("""WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
             |v2 AS (SELECT doc_id,
             |CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END AS text
             |FROM documents WHERE doc_id < 300 AND doc_id % 17 <> 0
             |UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 30),
             |d AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             |CASE WHEN v1.doc_id IS NULL THEN 'insert'
             |WHEN v2.doc_id IS NULL THEN 'delete'
             |WHEN v1.text <> v2.text THEN 'update' END AS change_type
             |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
             |SELECT change_type, count(*) AS n,
             |min(doc_id) AS min_key, max(doc_id) AS max_key
             |FROM d WHERE change_type IS NOT NULL
             |GROUP BY change_type ORDER BY change_type""".stripMargin.replace("\n", " "))),

    // Raw-media landing path: a directory of opaque binary files read
    // through Spark's binaryFile source (path/length/content — how
    // image/audio corpora actually arrive on object storage before any
    // decode), digest-verified file by file against DuckDB's read_blob
    // over the same directory. The fixture is deterministic (first 20
    // docs' UTF-8 bytes); at scale this reader is the input stage the
    // Multimodal decode contract consumes.
    // ORACLE SCOPE: DuckDB 1.0's md5 is VARCHAR-only, so the digest
    // parity requires UTF-8-decodable payloads — the fixture writes text
    // bytes BY DESIGN. The binary plumbing itself (binaryFile schema,
    // length accounting, per-file rows) is what this query pins; raw
    // media digests are covered engine-side by the image/audio decode
    // oracles, which hash DECODED content both engines can derive.
    Q("q_binary_files",
      (s, d) => {
        val dir = Fixtures.ensureBlobs(s, d)
        // an EMPTY landing directory (no crawl output yet) is 0 rows,
        // not a PATH_NOT_FOUND throw from the unmatched glob
        val any = new java.io.File(dir).listFiles()
        val hasBlobs = any != null && any.exists(_.getName.endsWith(".bin"))
        val files =
          if (hasBlobs) s.read.format("binaryFile").load(s"$dir/*.bin")
          else s.read.format("binaryFile")
            .load(dir).filter(lit(false)) // schema-stable empty frame
        files
          .select(element_at(split(col("path"), "/"), -1).as("fname"),
            col("length"), md5(col("content")).as("digest"))
          .orderBy("fname")
      },
      Some(s"""SELECT parse_filename(filename) AS fname,
             |CAST(size AS BIGINT) AS length, md5(content::VARCHAR) AS digest
             |FROM read_blob('${Fixtures.sqlDir("blob_fixture")}/*.bin')
             |ORDER BY fname""".stripMargin.replace("\n", " "))),

    // Data profiling (graft.etl.Profile): one scan, every column's stats,
    // unpivoted via stack — the explicit form of the reference's
    // infer-types-from-the-whole-CSV pass.
    Q("q_profile",
      (s, d) => graft.etl.Profile.numeric(Tables.lineitem(s, d),
          Seq("l_quantity", "l_discount", "l_extendedprice", "l_tax"))
        .orderBy("col"),
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS col, count(*) AS n, count($c) AS n_nonnull,
             |round(min($c), 4) AS min_v, round(max($c), 4) AS max_v,
             |count(DISTINCT $c) AS n_distinct FROM lineitem""".stripMargin
        Seq("l_quantity", "l_discount", "l_extendedprice", "l_tax")
          .map(one).mkString("", " UNION ALL ", " ORDER BY col")
          .replace("\n", " ")
      }),

    // ---- Deterministic sampling / splits ---------------------------------

    // Content-hash train/val/test split (graft.ops.Sampling): stable
    // across runs/engines/partitionings, narrow, no shuffle — the
    // reproducible alternative to df.sample for corpus curation.
    Q("q_hash_split",
      (s, d) => graft.ops.Sampling.deterministicSplit(
          Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CASE WHEN b < 80 THEN 'train'
             |WHEN b < 90 THEN 'val' ELSE 'test' END AS split FROM (
             |SELECT doc_id,
             |CAST(concat('0x', substring(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 4)) AS BIGINT) % 100 AS b
             |FROM documents) x ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Stratified deterministic sampling: ~20% of documents per source by
    // stratum-mixed hash — the balanced-mixture builder (per-stratum
    // counts prove balance; assignment is engine-stable).
    Q("q_stratified_sample",
      (s, d) => graft.ops.Sampling.stratifiedSampleByHash(
          Tables.documents(s, d), "source", "doc_id", pct = 20)
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
        .orderBy("source"),
      Some("""SELECT source, count(*) AS n_sampled FROM (
             |SELECT source, CAST(concat('0x', substring(md5(
             |concat(md5(coalesce(CAST(source AS VARCHAR), '')),
             |md5(coalesce(CAST(doc_id AS VARCHAR), '')))), 1, 4)) AS BIGINT) % 100 AS b
             |FROM documents) t WHERE b < 20
             |GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "))),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    // each doc draws a deterministic md5-uniform u and is ranked by
    // ln(u)/weight (weight = n_chars) — the top-k under that key IS an
    // exact weight-proportional sample without replacement. One narrow
    // projection + a distributed top-k (TakeOrdered partial heaps, no
    // global sort); the md5-derived u makes the "randomness" replayable
    // and engine-portable, so DuckDB reproduces the exact sample.
    Q("q_weighted_sample",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(
            log((conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
                  .cast(DoubleType) + 1.0) / 4294967296.0) /
              col("n_chars").cast(DoubleType), 12).as("es_key"))
        .orderBy(desc("es_key"), col("doc_id"))
        .limit(100),
      Some("""SELECT doc_id, source, n_chars,
             |round(ln((CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1.0)
             |/ 4294967296.0) / CAST(n_chars AS DOUBLE), 12) AS es_key
             |FROM documents ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin.replace("\n", " "))),

    // Weighted training mixture: per-source sampling rates (src0 full,
    // src1 half, src2 fifth, everything else 10%) — deterministic and
    // nested under weight raises.
    Q("q_weighted_mixture",
      (s, d) => graft.ops.Sampling.weightedMixture(
          Tables.documents(s, d), "source", "doc_id",
          Map("src0" -> 100, "src1" -> 50, "src2" -> 20), defaultPct = 10)
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
        .orderBy("source"),
      Some("""SELECT source, count(*) AS n_sampled FROM (
             |SELECT source, CAST(concat('0x', substring(md5(
             |concat(md5(coalesce(CAST(source AS VARCHAR), '')),
             |md5(coalesce(CAST(doc_id AS VARCHAR), '')))), 1, 4)) AS BIGINT) % 100 AS b
             |FROM documents) t
             |WHERE b < (CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
             |WHEN 'src2' THEN 20 ELSE 10 END)
             |GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "))),

    // Exact per-group median (percentile == DuckDB quantile_cont).
    Q("q_group_median",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("med"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, round(quantile_cont(o_totalprice, 0.5), 4) AS med,
             |count(*) AS n FROM orders GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "))),

    // ---- Temporal joins Spark lacks natively -----------------------------

    // Backward as-of join (graft.ops.AsOf): each purchase matched to the
    // latest preceding view by the same user — union + running
    // last(ignoreNulls), ONE shuffle, no range blowup. Right side is
    // pre-aggregated to unique (user, ts) so tie semantics are exact on
    // both engines (DuckDB ASOF JOIN is the oracle).
    Q("q_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts").as("view_ts"))
          .agg(max(col("value")).as("view_value"))
        graft.ops.AsOf.joinAsOf(purchases, views, Seq("user_id"),
            "ts", "view_ts", Seq("view_ts", "view_value"), prefix = "")
          .orderBy("event_id")
      },
      Some("""WITH purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |views AS (SELECT user_id, ts AS view_ts, max(value) AS view_value
             |FROM events WHERE event_type = 'view' GROUP BY 1, 2)
             |SELECT p.event_id, p.user_id, p.ts, v.view_ts, v.view_value
             |FROM purchases p ASOF LEFT JOIN views v
             |ON p.user_id = v.user_id AND p.ts >= v.view_ts
             |ORDER BY p.event_id""".stripMargin.replace("\n", " "))),

    // Pure range (interval) join (graft.ops.RangeJoin): events inside the
    // top-20 error-heavy incident windows. No equi key — the bin trick
    // turns Spark's only native plan (BroadcastNestedLoopJoin) into a
    // partitionable equi-join on the time bin + exact range filter.
    Q("q_range_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val wins = ev.filter(col("event_type") === "error")
          .groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("hour")).limit(20)
          .select((col("hour") + expr("INTERVAL 10 MINUTES")).as("win_start"),
            (col("hour") + expr("INTERVAL 50 MINUTES")).as("win_end"))
        graft.ops.RangeJoin.joinRange(
            ev.select(col("event_id"), col("ts")), "ts",
            wins, "win_start", "win_end", binSeconds = 3600)
          .select(col("event_id"), col("win_start"))
          .orderBy("event_id", "win_start")
      },
      Some("""WITH wins AS (
             |SELECT date_trunc('hour', ts) + INTERVAL 10 MINUTE AS win_start,
             |date_trunc('hour', ts) + INTERVAL 50 MINUTE AS win_end
             |FROM events WHERE event_type = 'error'
             |GROUP BY date_trunc('hour', ts) ORDER BY count(*) DESC, 1 LIMIT 20)
             |SELECT e.event_id, w.win_start FROM events e JOIN wins w
             |ON e.ts >= w.win_start AND e.ts < w.win_end
             |ORDER BY e.event_id, w.win_start""".stripMargin.replace("\n", " "))),

    // ---- Round 4: pipeline-depth additions ------------------------------

    // Semantic dedup (SemDeDup): embedding space partitioned into IVF
    // cells (deterministic id-rank centroids so the oracle can reproduce
    // the assignment: argmax cosine, ties to the higher cell id — exactly
    // greatest() over (sim, cell) structs), keep-lowest-id within τ=0.3
    // inside each cell. Quadratic work never leaves a cell.
    Q("q_semantic_dedup",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", m = 8)
        Similarity.semanticDedup(emb, "vec_id", "embedding", cents,
            threshold = 0.3)
          .orderBy("id")
      },
      Some("""WITH cents AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c
             |FROM embeddings ORDER BY vec_id LIMIT 8),
             |sims AS (SELECT e.vec_id, cents.cell,
             |list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cents.c) AS sim
             |FROM embeddings e CROSS JOIN cents),
             |assigned AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
             |row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
             |FROM sims) t WHERE rn = 1),
             |losers AS (SELECT DISTINCT b.vec_id FROM assigned a
             |JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
             |JOIN embeddings ea ON ea.vec_id = a.vec_id
             |JOIN embeddings eb ON eb.vec_id = b.vec_id
             |WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
             |CAST(eb.embedding AS DOUBLE[])) >= 0.3)
             |SELECT vec_id AS id, cell FROM assigned
             |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
             |ORDER BY id""".stripMargin.replace("\n", " "))),

    // Sequence packing: documents laid end-to-end in id order into
    // fixed 512-token training sequences — seq_id = floor(exclusive
    // prefix sum / budget). Spark side is the DISTRIBUTED prefix sum
    // (range partition → per-partition offsets → parallel windows); the
    // oracle is the single-window definition it must equal.
    Q("q_pack_sequences",
      (s, d) => Pack.packSequences(Tables.documents(s, d), "doc_id",
          TextAnalysis.tokenCount(col("text")), budget = 512)
        .select(col("id").as("doc_id"), col("n_tokens"), col("seq_id"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |CAST(floor((sum(len(string_split(text, ' '))) OVER (ORDER BY doc_id)
             |- len(string_split(text, ' '))) / 512.0) AS BIGINT) AS seq_id
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Padding/batching efficiency audit — the decision table for
    // length-bucketed batching: form 32-doc training batches two ways
    // (arrival order by doc_id; length-sorted) and price each strategy's
    // padding waste (each batch pads to its own max length — the
    // standard padded-batch cost model). The batch assignment is
    // packSequences' distributed prefix sum with UNIT weights (count
    // prefix ≡ row_number, PipelineDepthSpec-proven equal to the single
    // window), so no global window sneaks in; the length-sorted order
    // rides a struct (n_tokens, doc_id) key — unique, monotone in
    // (length, id), no arithmetic composite to overflow (structs are
    // orderable, so repartitionByRange and the per-partition window
    // sort on them directly). Output: one row per strategy, collected
    // to the driver and re-emitted as a fresh local frame so neither
    // leg's persisted intermediate outlives the call (a returned union
    // of persisted frames can't be released by the caller). The gap
    // between the two rows is tokens-per-step bought by sorting before
    // batching.
    Q("q_padding_audit",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"),
          coalesce(TextAnalysis.tokenCount(col("text")), lit(0L)).as("n_tok"))
        def audit(strategy: String, keyed: org.apache.spark.sql.DataFrame)
            : (String, Long, Long, Long, Double) = {
          // n_tok rides assignByPrefix's extras lane (the shardManifest
          // digest pattern) — no re-join, no second source scan
          val assigned = Pack.assignByPrefix(keyed, "k", lit(1L),
            budget = 32, extra = Seq(col("n_tok")))
          val out = try {
            assigned
              .groupBy(col("seq_id"))
              .agg(count(lit(1)).as("n"), max(col("n_tok")).as("mx"),
                sum(col("n_tok")).as("tok"))
              .agg(count(lit(1)).cast(LongType).as("n_batches"),
                coalesce(sum(col("tok")), lit(0L)).cast(LongType)
                  .as("data_tokens"),
                coalesce(sum(col("n") * col("mx") - col("tok")), lit(0L))
                  .cast(LongType).as("padding_tokens"))
              .collect().head
          } finally assigned.unpersist(blocking = false)
          val data = out.getLong(1); val pad = out.getLong(2)
          val total = data + pad
          val ratio = if (total == 0L) 0.0
            else BigDecimal(pad.toDouble / total.toDouble)
              .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
          (strategy, out.getLong(0), data, pad, ratio)
        }
        val arrival = audit("arrival",
          docs.select(col("doc_id").as("k"), col("n_tok")))
        val sorted = audit("length_sorted",
          docs.select(struct(col("n_tok"), col("doc_id")).as("k"),
            col("n_tok")))
        import s.implicits._
        Seq(arrival, sorted)
          .toDF("strategy", "n_batches", "data_tokens", "padding_tokens",
            "padding_ratio")
          .orderBy("strategy")
      },
      Some("""WITH t AS (SELECT doc_id,
             |coalesce(CAST(len(string_split(text, ' ')) AS BIGINT), 0) AS n_tok
             |FROM documents),
             |a AS (SELECT n_tok, CAST((row_number() OVER (ORDER BY doc_id) - 1) // 32 AS BIGINT) AS b FROM t),
             |s AS (SELECT n_tok, CAST((row_number() OVER (ORDER BY n_tok, doc_id) - 1) // 32 AS BIGINT) AS b FROM t),
             |pa AS (SELECT count(*) AS n, max(n_tok) AS mx, sum(n_tok) AS tok FROM a GROUP BY b),
             |ps AS (SELECT count(*) AS n, max(n_tok) AS mx, sum(n_tok) AS tok FROM s GROUP BY b),
             |ra AS (SELECT 'arrival' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
             |CAST(sum(tok) AS BIGINT) AS data_tokens,
             |CAST(sum(n * mx - tok) AS BIGINT) AS padding_tokens FROM pa),
             |rs AS (SELECT 'length_sorted' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
             |CAST(sum(tok) AS BIGINT) AS data_tokens,
             |CAST(sum(n * mx - tok) AS BIGINT) AS padding_tokens FROM ps),
             |u AS (SELECT * FROM ra UNION ALL SELECT * FROM rs)
             |SELECT strategy, n_batches, data_tokens, padding_tokens,
             |round(CAST(padding_tokens AS DOUBLE) / CAST(data_tokens + padding_tokens AS DOUBLE), 5) AS padding_ratio
             |FROM u ORDER BY strategy""".stripMargin.replace("\n", " "))),

    // Manifest verification — the READ-side half of q_shard_manifest's
    // contract: a trainer recomputes each shard's checksum from the rows
    // it actually read and compares against the ledger. Here the read
    // leg deterministically LOSES every doc with doc_id % 97 == 13 (a
    // dropped-rows corruption), and the verdict table shows the checksum
    // catching exactly the shards that lost docs — the demonstration
    // that X171's modular checksum detects corruption, not just that it
    // round-trips. One assignment pass feeds both legs (ledger = all
    // rows, read = surviving rows, grouped by the SAME shard ids);
    // everything stays exact BIGINT.
    Q("q_manifest_verify",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val assigned = Pack.assignByPrefix(
          docs.select(col("doc_id"), col("text")), "doc_id",
          TextAnalysis.tokenCount(col("text")), budget = 4096,
          extra = Seq((conv(substring(md5(concat(col("doc_id").cast("string"),
              lit(":"), coalesce(col("text"), lit("")))), 1, 15), 16, 10)
            .cast(LongType) % lit(1000000007L)).as("dmod")))
        def side(df: org.apache.spark.sql.DataFrame, prefix: String) =
          df.groupBy(col("seq_id").as("shard_id"))
            .agg(count(lit(1)).cast(LongType).as(s"${prefix}_docs"),
              (sum(col("dmod")) % 1000000007L).as(s"${prefix}_checksum"))
        val ledger = side(assigned, "ledger")
        val read = side(assigned.filter(!(col("id") % 97 === 13)), "read")
        val out = ledger.join(read, Seq("shard_id"), "left")
          .select(col("shard_id"), col("ledger_docs"),
            coalesce(col("read_docs"), lit(0L)).as("read_docs"),
            (coalesce(col("read_checksum"), lit(0L)) === col("ledger_checksum"))
              .as("checksum_ok"),
            (col("ledger_docs") - coalesce(col("read_docs"), lit(0L)))
              .as("missing_docs"))
          .orderBy("shard_id")
        graft.ops.Dedup.eagerly(out, assigned)
      },
      Some("""WITH t AS (SELECT doc_id,
             |coalesce(CAST(len(string_split(text, ' ')) AS BIGINT), 0) AS n_tok,
             |CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), ':', coalesce(text, ''))), 1, 15)) AS BIGINT) % 1000000007 AS dmod
             |FROM documents),
             |a AS (SELECT doc_id, dmod,
             |CAST(floor((sum(n_tok) OVER (ORDER BY doc_id) - n_tok) / 4096.0) AS BIGINT) AS shard_id
             |FROM t),
             |ledger AS (SELECT shard_id, CAST(count(*) AS BIGINT) AS ledger_docs,
             |CAST(sum(dmod) % 1000000007 AS BIGINT) AS ledger_checksum
             |FROM a GROUP BY shard_id),
             |rd AS (SELECT shard_id, CAST(count(*) AS BIGINT) AS read_docs,
             |CAST(sum(dmod) % 1000000007 AS BIGINT) AS read_checksum
             |FROM a WHERE NOT (doc_id % 97 = 13) GROUP BY shard_id)
             |SELECT l.shard_id, l.ledger_docs,
             |coalesce(r.read_docs, 0) AS read_docs,
             |coalesce(r.read_checksum, 0) = l.ledger_checksum AS checksum_ok,
             |l.ledger_docs - coalesce(r.read_docs, 0) AS missing_docs
             |FROM ledger l LEFT JOIN rd r ON r.shard_id = l.shard_id
             |ORDER BY l.shard_id""".stripMargin.replace("\n", " "))),

    // Training-ingest shard manifest: contiguous-fill 4096-token shards
    // (q_pack_sequences' assignment rule at shard granularity) with one
    // manifest row per shard — doc/token totals, id range, and an
    // order-insensitive modular content checksum the trainer re-derives
    // from the rows it actually read (Pack.shardManifest; the corruption
    // gate between curation and the first gradient step). Oracle replays
    // the single-window definition and the same mod-prime arithmetic —
    // exact BIGINT throughout, no float in the checksum.
    Q("q_shard_manifest",
      (s, d) => Pack.shardManifest(Tables.documents(s, d), "doc_id", "text",
          TextAnalysis.tokenCount(col("text")), shardTokens = 4096)
        .orderBy("shard_id"),
      Some("""WITH t AS (SELECT doc_id,
             |coalesce(CAST(len(string_split(text, ' ')) AS BIGINT), 0) AS n_tok,
             |CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), ':', coalesce(text, ''))), 1, 15)) AS BIGINT) % 1000000007 AS dmod
             |FROM documents),
             |a AS (SELECT doc_id, n_tok, dmod,
             |CAST(floor((sum(n_tok) OVER (ORDER BY doc_id) - n_tok) / 4096.0) AS BIGINT) AS shard_id
             |FROM t)
             |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
             |CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             |min(doc_id) AS first_doc_id, max(doc_id) AS last_doc_id,
             |CAST(sum(dmod) % 1000000007 AS BIGINT) AS checksum
             |FROM a GROUP BY shard_id ORDER BY shard_id""".stripMargin.replace("\n", " "))),

    // Per-domain cap: at most 10 documents per source (first by doc_id)
    // — the anti-boilerplate mixture guard. Two-phase row_number under
    // the hood (partition-local cap first) so a 10^8-row domain never
    // lands on one reducer.
    Q("q_domain_cap",
      (s, d) => Sampling.capPerKey(Tables.documents(s, d), Seq("source"),
          Seq(col("doc_id")), cap = 10)
        .select("doc_id", "source").orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM (SELECT doc_id, source,
             |row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
             |FROM documents) t WHERE rn <= 10 ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Type-2 history: collapse the event log to one row per run of equal
    // event_type per user with validity intervals — the versioned
    // evolution of the reference's overwrite-per-sync extracts
    // (app/core/importer.py:242-249 loses history; this keeps it).
    Q("q_scd2",
      (s, d) => Scd.type2History(Tables.events(s, d), Seq("user_id"),
          Seq(col("ts"), col("event_id")), Seq("event_type"), col("ts"),
          carry = Seq("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from", "event_id"),
      Some("""WITH marked AS (SELECT user_id, event_type, ts, event_id,
             |(lag(event_type) OVER w IS DISTINCT FROM event_type)
             |OR row_number() OVER w = 1 AS op
             |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |runs AS (SELECT user_id, event_type, event_id, ts AS valid_from
             |FROM marked WHERE op)
             |SELECT user_id, event_type, event_id, valid_from,
             |lead(valid_from) OVER w2 AS valid_to,
             |lead(valid_from) OVER w2 IS NULL AS is_current
             |FROM runs WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
             |ORDER BY user_id, valid_from, event_id""".stripMargin.replace("\n", " "))),

    // Corpus-fit quality score: per-document mean log2 probability under
    // the corpus's own unigram distribution (perplexity proxy — the
    // data-selection signal that needs no external model). Vocabulary
    // stays distributed; only the 1-row total is broadcast.
    Q("q_unigram_lm",
      (s, d) => TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .select(col("id"), col("n_tokens"),
          round(col("mean_log2p"), 3).as("mean_log2p"))
        .orderBy("id"),
      Some("""WITH tok AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
             |FROM documents),
             |vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
             |tot AS (SELECT sum(cnt) AS total FROM vocab)
             |SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
             |round(avg(log2(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))), 3) AS mean_log2p
             |FROM tok JOIN vocab USING (tok) CROSS JOIN tot
             |GROUP BY id ORDER BY id""".stripMargin.replace("\n", " "))),

    // Skew-safe join (Scale.saltedJoin): lineitem ⋈ orders with an 8-way
    // salt on the order key — a hot order's lines spread over 8 tasks
    // when the join shuffles. The operator is adaptive: at this sf orders
    // fits the broadcast threshold, so it plans the plain broadcast join
    // (no shuffle → no skew to fix → no salt overhead); at 100 TB the
    // same call degrades to the salted shuffle join. The oracle is the
    // plain join it must be row-identical to on either path.
    Q("q_salted_join",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d)
          .withColumnRenamed("o_orderkey", "l_orderkey")
        Scale.saltedJoin(li, ord, Seq("l_orderkey"),
            entropy = col("l_linenumber"), n = 8)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")), 2).as("rev"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             |round(sum(l_extendedprice), 2) AS rev
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", " "))),

    // Shingle containment for the LSH candidate pairs: |A∩B|/|A| and
    // |A∩B|/|B| — the asymmetric inclusion measure Jaccard misses (short
    // doc quoted whole inside a long one). Same candidates, same single
    // corpus scan as q_minhash_lsh_pairs.
    Q("q_containment",
      (s, d) => Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text")
        .select(col("id_a"), col("id_b"),
          round(col("cont_a"), 4).as("cont_a"),
          round(col("cont_b"), 4).as("cont_b"))
        .orderBy("id_a", "id_b"),
      Some(DedupSql.answer(DedupSql.shingles(), DedupSql.Lsh)(
        """SELECT id_a, id_b, round(CAST(i AS DOUBLE) / na, 4) AS cont_a,
          |round(CAST(i AS DOUBLE) / nb, 4) AS cont_b
          |FROM lp ORDER BY id_a, id_b""".stripMargin))),

    // Point-in-time read over the type-2 history: every user's state AS
    // OF Jan 15 — the query the history table exists for. A pure filter
    // over the history build.
    Q("q_scd2_asof",
      (s, d) => {
        val hist = Scd.type2History(Tables.events(s, d), Seq("user_id"),
          Seq(col("ts"), col("event_id")), Seq("event_type"), col("ts"),
          carry = Seq("event_id"))
        Scd.asOf(hist, lit("2024-01-15 00:00:00").cast("timestamp"))
          .select(col("user_id"), col("event_type"), col("valid_from"))
          .orderBy("user_id", "valid_from")
      },
      Some("""WITH marked AS (SELECT user_id, event_type, ts, event_id,
             |(lag(event_type) OVER w IS DISTINCT FROM event_type)
             |OR row_number() OVER w = 1 AS op
             |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |runs AS (SELECT user_id, event_type, event_id, ts AS valid_from
             |FROM marked WHERE op),
             |hist AS (SELECT user_id, event_type, valid_from,
             |lead(valid_from) OVER w2 AS valid_to
             |FROM runs WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id))
             |SELECT user_id, event_type, valid_from FROM hist
             |WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
             |AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
             |ORDER BY user_id, valid_from""".stripMargin.replace("\n", " "))),

    // IVF index diagnostics: per-cell population + similarity-to-centroid
    // stats (the index-quality / probe-skew signal). Narrow assign scan +
    // one aggregate; m rows out.
    Q("q_ivf_stats",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", m = 8)
        Similarity.ivfCellStats(emb, "vec_id", "embedding", cents)
          .select(col("cell"), col("n"),
            round(col("mean_sim"), 4).as("mean_sim"),
            round(col("min_sim"), 4).as("min_sim"))
          .orderBy("cell")
      },
      Some("""WITH cents AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS c
             |FROM embeddings ORDER BY vec_id LIMIT 8),
             |sims AS (SELECT e.vec_id, cents.cell,
             |list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cents.c) AS sim
             |FROM embeddings e CROSS JOIN cents),
             |assigned AS (SELECT vec_id, cell, sim FROM (SELECT vec_id, cell, sim,
             |row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
             |FROM sims) t WHERE rn = 1)
             |SELECT cell, CAST(count(*) AS BIGINT) AS n,
             |round(avg(sim), 4) AS mean_sim, round(min(sim), 4) AS min_sim
             |FROM assigned GROUP BY cell ORDER BY cell""".stripMargin.replace("\n", " "))),

    // Product quantization ANN (Jégou et al. 2011): the corpus collapses
    // to m=4 codes per vector (one byte each at ks=8 — 64 doubles → 4
    // bytes), probes stay RAW and rank candidates by asymmetric distance
    // (ADC) against the broadcast codebooks — at 100 TB the quantized
    // index fits in cluster memory and the scan is table lookups, not
    // float math against raw vectors; composes with the IVF cell layout
    // (IVF-PQ) by encoding within cells. Codebooks seed from the id-rank
    // vectors (the ivfCentroids convention) so the oracle rebuilds them
    // relationally; both engines fold subvector distances in ascending
    // index order. Native codegen kernels: pq_encode / pq_adc.
    Q("q_pq_adc",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        // composed-flow guard: a corpus smaller than the ks=8 codebook
        // (degenerate tenant) answers an EMPTY frame with the declared
        // schema — the dummy codebooks below only shape the limit(0) plan
        val cbOpt = Similarity.pqCodebooksOpt(emb, "vec_id", "v", m = PqM, ks = PqKs)
        val cbLit = Similarity.pqCodebooksLit(
          cbOpt.getOrElse(Array.fill(PqM, PqKs, SubDim)(0.0)))
        val codes = emb.select(col("vec_id").as("match_id"),
          graft.functions.PqEncode(col("v"), cbLit, ks = PqKs).as("codes"))
        val probes = emb.filter(col("vec_id") < ProbeIds)
          .select(col("vec_id").as("probe_id"), col("v").as("q"))
        val cands = broadcast(probes).crossJoin(codes)
          .filter(col("probe_id") =!= col("match_id"))
          .select(col("probe_id"), col("match_id"),
            graft.functions.PqAdc(col("q"), col("codes"), cbLit, ks = PqKs).as("adc"))
        val w = Window.partitionBy(col("probe_id"))
          .orderBy(col("adc"), col("match_id"))
        val out = cands.withColumn("rank", row_number().over(w).cast(LongType))
          .filter(col("rank") <= PqTopK)
          .select(col("probe_id"), col("rank"), col("match_id"),
            round(col("adc"), 4).as("adc"))
          .orderBy("probe_id", "rank")
        if (cbOpt.isDefined) out else out.limit(0)
      },
      Some(AnnSql.answer(AnnSql.split(whole = true), AnnSql.codes(residual = false),
        """cand AS (SELECT qs.vec_id AS query_id, corp.vec_id AS match_id
          |FROM qs JOIN corp ON corp.vec_id <> qs.vec_id)""".stripMargin,
        AnnSql.adc(residual = false), AnnSql.top("ap", "adc", "adc", PqTopK))(
        """SELECT query_id AS probe_id, CAST(rk AS BIGINT) AS rank, match_id,
          |round(adc, 4) AS adc FROM ap ORDER BY probe_id, rank""".stripMargin))),

    // The composed IVF-PQ batch join, oracle-checked end to end: probes
    // pick their nProbe nearest coarse cells (argsort EXPRESSION), cell
    // candidates rank by PQ-ADC against the codes — the billion-scale
    // serving shape (Similarity.ivfPqJoin, the 4th knnClassify stage).
    // The oracle re-derives centroid assignment (greatest() tie-break ==
    // ORDER BY sim DESC, cell DESC), the probe sets, the codes, and the
    // ordered ADC fold from relational state alone — every stage of the
    // composition is replayed, not just its pieces. Self-matches rank
    // first by construction (a vector's ADC to its own codes is its
    // quantization error) and are kept: deterministic on both engines.
    Q("q_ivf_pq",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val probes = emb.filter(col("vec_id") < ProbeIds)
        val nn = Similarity.ivfPqJoin(probes, emb, "vec_id", "embedding",
          k = PqTopK, m = Cells, nProbe = NProbe, pqM = PqM, pqKs = PqKs)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("match_id"))
        nn.withColumn("rank", row_number().over(w).cast(LongType))
          .select(col("query_id"), col("rank"), col("match_id"),
            round(-col("sim"), 4).as("adc"))
          .orderBy("query_id", "rank")
      },
      Some(AnnSql.answer(AnnSql.split(whole = true), AnnSql.cells(0),
        AnnSql.probe(NProbe), AnnSql.codes(residual = false),
        AnnSql.adc(residual = false), AnnSql.top("ap", "adc", "adc", PqTopK))(
        """SELECT query_id, CAST(rk AS BIGINT) AS rank, match_id,
          |round(adc, 4) AS adc FROM ap ORDER BY query_id, rank""".stripMargin))),

    // Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005) over
    // the token stream: the d=4 × w=64 sketch is RELATIONAL (cells are
    // plain sums), so map-side combine IS the sketch merge — each
    // partition ships ≤ d·w cells, never its tokens, and daily sketches
    // roll up by cell-wise addition. md5-derived hash rows make the
    // sketch a pure function of the data; the oracle rebuilds every cell
    // and the min-over-rows estimates exactly. est ≥ truth always (one-
    // sided error); the report ranks by estimate — what a monitor that
    // kept ONLY the sketch would rank by — with truth and overcount
    // alongside (w=64 ≪ vocab forces real collisions, so overcount is
    // honest, not trivially zero).
    Q("q_cms_heavy_hitters",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        graft.ops.Sketch.cmsHeavyHitters(toks, "token", d = 4, w = 64)
          .orderBy(col("cms_est").desc, col("token")).limit(20)
      },
      Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS wd FROM documents),
             |js AS (SELECT unnest(range(0, 4)) AS j),
             |cells AS (SELECT js.j,
             |CAST(concat('0x', substring(md5(js.j || ':' || wd), 1, 8)) AS BIGINT) % 64 AS bucket,
             |CAST(count(*) AS BIGINT) AS cnt FROM toks CROSS JOIN js GROUP BY 1, 2),
             |truth AS (SELECT wd, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY wd),
             |est AS (SELECT t.wd, min(coalesce(c.cnt, 0)) AS cms_est
             |FROM truth t CROSS JOIN js
             |LEFT JOIN cells c ON c.j = js.j AND c.bucket =
             |CAST(concat('0x', substring(md5(js.j || ':' || t.wd), 1, 8)) AS BIGINT) % 64
             |GROUP BY t.wd)
             |SELECT t.wd AS token, t.n, CAST(e.cms_est AS BIGINT) AS cms_est,
             |CAST(e.cms_est - t.n AS BIGINT) AS overcount
             |FROM truth t JOIN est e ON t.wd = e.wd
             |ORDER BY cms_est DESC, token LIMIT 20""".stripMargin.replace("\n", " "))),

    // Exact substring-level dedup signal (Lee et al. 2022 §3.1, fixed
    // n): tokens covered by any 8-gram occurring >= 2x corpus-wide —
    // verbatim boilerplate/mirrored spans BELOW the segment and document
    // tiers. The oracle replays gram explode, the flagged set, and the
    // gaps-and-islands interval union exactly; cost is one gram-keyed
    // shuffle + one doc-keyed window (see Dedup.repeatedNgramCoverage).
    Q("q_ngram_spans",
      (s, d) => Dedup.repeatedNgramCoverage(
          Tables.documents(s, d), "doc_id", "text", n = 8, minCount = 2)
        .filter(col("covered") > 0) // the report lists the FLAGGED docs
        .withColumn("dup_frac",
          round(col("covered").cast(DoubleType) /
            col("n_tokens").cast(DoubleType), 5))
        .orderBy(col("id")),
      Some(NgramSpansSql)),

    // The 100 TB shuffle-width variant of q_ngram_spans: the gram-keyed
    // shuffle carries a 60-bit md5 prefix instead of the ~50-byte gram
    // string (≈6× narrower shuffle rows). A hash collision can only
    // FALSE-POSITIVE a gram into the flagged set at ~2⁻⁶⁰ per pair —
    // never unflag a real repeat — so it shares the exact form's oracle:
    // identical answers on real data IS the contract (also spec-pinned,
    // ExtensionsSpec "hashed-gram coverage"). Benched alongside the
    // exact form at ×64 so the shuffle savings are a recorded number,
    // not an implication.
    Q("q_ngram_spans_hashed",
      (s, d) => Dedup.repeatedNgramCoverage(
          Tables.documents(s, d), "doc_id", "text", n = 8, minCount = 2,
          hashGrams = true)
        .filter(col("covered") > 0)
        .withColumn("dup_frac",
          round(col("covered").cast(DoubleType) /
            col("n_tokens").cast(DoubleType), 5))
        .orderBy(col("id")),
      Some(NgramSpansSql)),

    // CMS-prefiltered variant of the hashed form: a d×w Count-Min sketch
    // of gram frequencies (map-side combined; ≤ d·w cells shuffle) is
    // broadcast back and grams with estimate < minCount drop BEFORE the
    // gram-keyed exchange. One-sided error ⇒ answer-identical for any
    // width (shares the exact oracle; also spec-pinned at a saturated
    // w=4). Pays when w can sit near distinct_grams/minCount while d·w
    // stays broadcastable — i.e. high-minCount boilerplate mining or
    // vocabulary-shaped corpora; at minCount=2 over mostly-unique grams
    // the sketch saturates as the corpus outgrows w (the honest α-law in
    // Dedup.flaggedIslands' comment). Benched at ×64 next to the exact
    // and hashed forms so that crossover is a measured number.
    Q("q_ngram_spans_cms",
      (s, d) => Dedup.repeatedNgramCoverage(
          Tables.documents(s, d), "doc_id", "text", n = 8, minCount = 2,
          hashGrams = true, cmsPrefilterW = 1 << 19, cmsPrefilterD = 4)
        .filter(col("covered") > 0)
        .withColumn("dup_frac",
          round(col("covered").cast(DoubleType) /
            col("n_tokens").cast(DoubleType), 5))
        .orderBy(col("id")),
      Some(NgramSpansSql)),

    // The removal counterpart of q_ngram_spans — the cleaned corpus the
    // Lee et al. pipeline trains on: flagged-span tokens dropped,
    // survivors rejoined in order, untouched docs byte-identical
    // (md5-compared). The oracle rebuilds every cleaned doc with the
    // same 1-based index-aware filter over the merged range list.
    Q("q_ngram_scrub",
      (s, d) => Dedup.removeRepeatedNgramSpans(
          Tables.documents(s, d), "doc_id", "text", n = 8, minCount = 2)
        .select(col("id"), md5(col("text")).as("clean_md5"),
          // '' splits to [''] (one token) on BOTH engines — a fully
          // scrubbed doc must report 0 surviving tokens, not 1
          when(col("text") === "", lit(0L))
            .otherwise(size(split(col("text"), " ")).cast(LongType)).as("n_after"))
        .orderBy("id"),
      Some(NgramScrubSql)),

    // Scrub half of the hashed-gram scale path (see q_ngram_spans_hashed):
    // 8-byte BIGINT gram keys through the same flagged-islands core,
    // byte-identical cleaned text (spec-pinned), same oracle.
    Q("q_ngram_scrub_hashed",
      (s, d) => Dedup.removeRepeatedNgramSpans(
          Tables.documents(s, d), "doc_id", "text", n = 8, minCount = 2,
          hashGrams = true)
        .select(col("id"), md5(col("text")).as("clean_md5"),
          // '' splits to [''] (one token) on BOTH engines — a fully
          // scrubbed doc must report 0 surviving tokens, not 1
          when(col("text") === "", lit(0L))
            .otherwise(size(split(col("text"), " ")).cast(LongType)).as("n_after"))
        .orderBy("id"),
      Some(NgramScrubSql)),

    // Batch analog of the streaming drift monitor, oracle-checked: the
    // corpus's NEW half (doc_id >= 300, "this week's crawl") scored
    // against the OLD half's source mix with the same λ-uniform-smoothed
    // KL(new ‖ old) the monitor computes, per-category terms included —
    // so the drift arithmetic itself has an oracle, not just a spec.
    // Two vocabulary-sized aggregates + a categories-sized join; the
    // sorted ORDER BY makes the fold order irrelevant (per-term rows,
    // summed by the reader or a trivial rollup).
    Q("q_drift_mix",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val newc = docs.filter(col("doc_id") >= 300)
          .groupBy(col("source")).agg(count(lit(1)).as("cn"))
        val oldc = docs.filter(col("doc_id") < 300)
          .groupBy(col("source")).agg(count(lit(1)).as("co"))
        val joined = newc.join(oldc, Seq("source"), "full_outer")
          .na.fill(0L, Seq("cn", "co"))
        val tot = joined.agg(sum(col("cn")).as("tn"), sum(col("co")).as("to"),
          count(lit(1)).as("k"))
        // literal 0.99/0.01 on BOTH sides (not 1−λ arithmetic, whose
        // result can differ from the parsed literal by one ulp).
        // try_divide on the half totals (r10 ANSI sweep): when one half
        // of the corpus is EMPTY (first run: no "old" crawl yet) tn/to
        // is a non-null 0 and ANSI `/` would throw DIVIDE_BY_ZERO —
        // try_divide makes the drift term NULL for that half, which is
        // DuckDB's own division-by-zero result, so both engines agree
        // on the degenerate domain as well
        val p = (lit(0.99d) * expr("try_divide(CAST(cn AS DOUBLE), CAST(tn AS DOUBLE))")) +
          lit(0.01d) / col("k").cast(DoubleType)
        val q = (lit(0.99d) * expr("try_divide(CAST(co AS DOUBLE), CAST(`to` AS DOUBLE))")) +
          lit(0.01d) / col("k").cast(DoubleType)
        joined.crossJoin(broadcast(tot))
          .select(col("source"), col("cn").as("n_new"), col("co").as("n_old"),
            round(p * log2(p / q), 6).as("kl_term_bits"))
          .orderBy("source")
      },
      Some("""WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS cn
             |FROM documents WHERE doc_id >= 300 GROUP BY source),
             |o AS (SELECT source, CAST(count(*) AS BIGINT) AS co
             |FROM documents WHERE doc_id < 300 GROUP BY source),
             |j AS (SELECT coalesce(n.source, o.source) AS source,
             |coalesce(cn, 0) AS cn, coalesce(co, 0) AS co
             |FROM n FULL OUTER JOIN o ON n.source = o.source),
             |t AS (SELECT CAST(sum(cn) AS DOUBLE) AS tn,
             |CAST(sum(co) AS DOUBLE) AS tt, CAST(count(*) AS DOUBLE) AS k FROM j)
             |SELECT source, cn AS n_new, co AS n_old,
             |round((0.99 * cn / tn + 0.01 / k) *
             |log2((0.99 * cn / tn + 0.01 / k) / (0.99 * co / tt + 0.01 / k)), 6)
             |AS kl_term_bits
             |FROM j CROSS JOIN t ORDER BY source""".stripMargin.replace("\n", " "))),

    // Linear quality probe (ops.Regress): distill the expensive fused-
    // kernel diversity signal (type-token ratio — needs a (doc, token)
    // shuffle) into a closed-form OLS probe over two CHEAP features
    // (log length, chars-per-token) the corpus already carries. ONE
    // corpus pass emits the nine normal-equation sums; coefficients are
    // Cramer's rule on that single row and R² expands from the same
    // sums — the expensive gate runs once, every later pass scores with
    // b0 + b1·x1 + b2·x2. Both engines share the exact Cramer operation
    // structure; TTR's negative slope on log-length IS Heaps' law, so
    // the fit is meaningful, not a toy identity.
    Q("q_linear_probe",
      (s, d) => {
        val lex = TextAnalysis.lexicalStats(Tables.documents(s, d),
          "doc_id", "text")
        val feats = lex.join(
            Tables.documents(s, d).select(col("doc_id").as("id"), col("n_chars")),
            Seq("id"))
          .select(col("ttr").as("y"),
            log(col("n_chars").cast(DoubleType) + 1.0).as("x1"),
            (col("n_chars").cast(DoubleType) /
              col("n_tokens").cast(DoubleType)).as("x2"))
        graft.ops.Regress.fitLinear2(feats, col("y"), col("x1"), col("x2"))
          .select(col("n"), round(col("b0"), 6).as("b0"),
            round(col("b1"), 6).as("b1"), round(col("b2"), 6).as("b2"),
            round(col("r2"), 6).as("r2"))
      },
      Some("""WITH tc AS (SELECT doc_id AS id, tok, count(*) AS c FROM
             |(SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) x
             |GROUP BY 1, 2),
             |lex AS (SELECT id, CAST(count(*) AS DOUBLE) / sum(c) AS y,
             |CAST(sum(c) AS DOUBLE) AS nt FROM tc GROUP BY id),
             |feats AS (SELECT lex.y, ln(CAST(d.n_chars AS DOUBLE) + 1.0) AS x1,
             |CAST(d.n_chars AS DOUBLE) / lex.nt AS x2
             |FROM lex JOIN documents d ON d.doc_id = lex.id),
             |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x1) AS s1,
             |sum(x2) AS s2, sum(x1*x1) AS s11, sum(x1*x2) AS s12,
             |sum(x2*x2) AS s22, sum(y) AS sy, sum(x1*y) AS s1y,
             |sum(x2*y) AS s2y, sum(y*y) AS syy FROM feats),
             |b AS (SELECT *, n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
             |+ s2*(s1*s12 - s11*s2) AS det FROM s),
             |c AS (SELECT *,
             |(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) / det AS b0,
             |(n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) / det AS b1,
             |(n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) / det AS b2
             |FROM b)
             |SELECT CAST(n AS BIGINT) AS n, round(b0, 6) AS b0,
             |round(b1, 6) AS b1, round(b2, 6) AS b2,
             |round(1 - (syy - 2*(b0*sy + b1*s1y + b2*s2y)
             |+ (b0*b0*n + b1*b1*s11 + b2*b2*s22 + 2*b0*b1*s1 + 2*b0*b2*s2
             |+ 2*b1*b2*s12)) / (syy - sy*sy/n), 6) AS r2
             |FROM c""".stripMargin.replace("\n", " "))),

    // Incremental dedup: the "new batch" (doc_id >= 400) deduplicated
    // against the historical corpus (doc_id < 400) through a PERSISTED
    // band index — history is signed once at index-build time, never
    // re-signed per batch. The oracle is the full-corpus pipeline
    // restricted to crossing pairs (band collision is symmetric, so the
    // index join finds exactly those).
    Q("q_incremental_neardup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val old = docs.filter(col("doc_id") < 400)
        val idx = Fixtures.dir("band_index_q", d)
        Dedup.writeBandIndex(old, "doc_id", "text", idx)
        Dedup.nearDupsAgainstIndex(docs.filter(col("doc_id") >= 400),
            "doc_id", "text", idx, old, threshold = NearDupJ)
          .select(col("id_new"), col("id_old"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy("id_new", "id_old")
      },
      Some(DedupSql.answer(DedupSql.shingles(), DedupSql.Lsh, DedupSql.Verified)(
        """SELECT id_b AS id_new, id_a AS id_old, round(j, 4) AS jaccard
          |FROM vpairs WHERE id_a < 400 AND id_b >= 400
          |ORDER BY id_new, id_old""".stripMargin))),

    // JSONL round-trip (the LLM-corpus interchange format): documents
    // written as newline-delimited JSON with nested typed metadata, read
    // back with an explicit schema (no inference scan), nested path
    // projected. Spark omits null fields on write; both readers surface
    // the missing key as null.
    Q("q_jsonl_ingest",
      (s, d) => {
        val fixture = Fixtures.dir("jsonl_fixture", d)
        Tables.documents(s, d).select(col("doc_id"),
            when(col("doc_id") % 13 === 0, lit(null).cast("string"))
              .otherwise(col("text")).as("text"),
            struct(col("lang"), col("source")).as("meta"))
          .coalesce(1).write.mode("overwrite").json(fixture)
        graft.etl.Ingest.readJsonl(s, fixture,
            "doc_id BIGINT, text STRING, meta STRUCT<lang: STRING, source: STRING>")
          .select(col("doc_id"), col("text"), col("meta.lang").as("lang"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, text, meta.lang AS lang
             |FROM read_json('${Fixtures.sqlDir("jsonl_fixture")}/*.json',
             |format='newline_delimited',
             |columns={'doc_id':'BIGINT','text':'VARCHAR','meta':'STRUCT(lang VARCHAR, source VARCHAR)'})
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // The full dedup funnel, composed end to end with per-stage survivor
    // counts — the corpus-cleaning user story: raw (seeded with case
    // variants so every stage demonstrably works) → normalized-form
    // dedup (keep lowest id) → MinHash near-dup canonicalization
    // (cluster-closure keep-lowest). Oracle replays all three stages in
    // one recursive-CTE chain.
    Q("q_dedup_funnel",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val corpus = docs.unionByName(
          docs.filter(col("doc_id") < 50)
            .select((col("doc_id") + 10000).as("doc_id"),
              upper(col("text")).as("text")))
        // d1 feeds the signature stage, the verify-stage text fetches AND
        // two stage counts — materialize it to a LEAF so the regex
        // normalization + min window run once AND downstream plans carry
        // a leaf instead of re-analyzing the normalize subtree per stage
        // (the clusters loop inside canonicalDocs executes eagerly)
        val d1 = Dedup.materializeLeaf(graft.catalog.Catalog.dedupFirst(
          corpus.withColumn("__nk", md5(TextAnalysis.normalizeText(col("text")))),
          Seq("__nk"), "doc_id").drop("__nk"))._1
        val pairs = Dedup.nearDupPairs(d1, "doc_id", "text", threshold = NearDupJ)
          .select("id_a", "id_b")
        val d2 = Dedup.canonicalDocs(d1, "doc_id", pairs)
        def stage(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("docs"))
            .select(lit(name).as("stage"), col("docs"))
        stage("0_raw", corpus)
          .unionByName(stage("1_normalized", d1))
          .unionByName(stage("2_canonical", d2))
          .orderBy("stage")
      },
      Some(DedupSql.answer(
        """corpus AS (SELECT doc_id, text FROM documents
          |UNION ALL SELECT doc_id + 10000, upper(text) FROM documents WHERE doc_id < 50),
          |norm AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
          |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS nk FROM corpus),
          |keep1 AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY nk),
          |d1 AS (SELECT c.* FROM corpus c JOIN keep1 USING (doc_id))""".stripMargin,
        DedupSql.shingles(from = "d1"), DedupSql.Lsh, DedupSql.Verified, DedupSql.closure(),
        s"d2 AS (SELECT doc_id FROM d1 WHERE ${DedupSql.Survives})")(
        """SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS docs FROM corpus
          |UNION ALL SELECT '1_normalized', CAST(count(*) AS BIGINT) FROM d1
          |UNION ALL SELECT '2_canonical', CAST(count(*) AS BIGINT) FROM d2
          |ORDER BY stage""".stripMargin))),

    // Canonical text normalization (case/punct/whitespace-invariant
    // form + md5 fingerprint): the cheap fuzzy-exact dedup tier below
    // MinHash. Pure narrow codegen; regexes chosen to behave identically
    // under Java regex and RE2.
    Q("q_normalize",
      (s, d) => {
        val norm = TextAnalysis.normalizeText(col("text"))
        Tables.documents(s, d)
          .select(col("doc_id"),
            length(norm).cast("long").as("norm_len"),
            md5(norm).as("norm_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |CAST(length(trim(regexp_replace(regexp_replace(lower(text),
             |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len,
             |md5(trim(regexp_replace(regexp_replace(lower(text),
             |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_md5
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Intra-document repeated-segment removal (boilerplate paragraphs /
    // duplicated sentences): the corpus is seeded with "text. first-8-
    // tokens. text" so every doc demonstrably carries a full repeat and
    // a partial non-repeat; dedupSegments keeps first occurrences in
    // order. Narrow projection — one scan, no shuffle.
    Q("q_paragraph_dedup",
      (s, d) => {
        val seeded = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(". "),
            TextAnalysis.truncateTokens(col("text"), 8), lit(". "),
            col("text")).as("t"))
        seeded.select(col("doc_id"),
            TextAnalysis.dedupSegments(col("t")).as("text_clean"))
          .orderBy("doc_id")
      },
      Some("""WITH seeded AS (SELECT doc_id, text || '. ' ||
             |array_to_string((string_split(text, ' '))[1:8], ' ') || '. ' || text AS t
             |FROM documents),
             |segs AS (SELECT doc_id, string_split(t, '. ') AS l FROM seeded)
             |SELECT doc_id, array_to_string(
             |list_filter(l, (x,i) -> list_position(l,x) = i), '. ') AS text_clean
             |FROM segs ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Bloom-prefiltered decontamination — contamination()'s scale path
    // for a benchmark whose exact shingle set outgrows a broadcast: the
    // membership test ships as a ~10-bits/item Bloom sketch probed
    // map-side (catalyst might_contain), and only probable hits reach
    // the exact residual join that removes false positives. The oracle
    // is the EXACT computation — the sketch must not change the answer.
    Q("q_bloom_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") % 50 === 0)
        val train = docs.filter(col("doc_id") % 50 =!= 0)
        Dedup.bloomContamination(train, bench, "doc_id", "text")
          .select(col("id").as("doc_id"), col("n_shingles"), col("n_overlap"),
            round(col("overlap_ratio"), 5).as("overlap_ratio"))
          .orderBy("doc_id")
      },
      Some(DecontaminateSql)),

    // ORC interchange round-trip (Spark-native columnar format besides
    // parquet): write the documents profile to ORC, read it back, and
    // aggregate — the oracle computes the same aggregate straight from
    // the parquet table, so the round-trip must be value-exact.
    Q("q_orc_roundtrip",
      (s, d) => {
        val fixture = Fixtures.dir("orc_fixture", d)
        Tables.documents(s, d).select("doc_id", "lang", "n_chars")
          .write.mode("overwrite").orc(fixture)
        s.read.orc(fixture)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |CAST(sum(n_chars) AS BIGINT) AS n_chars
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "))),

    // Deterministic corpus shuffle — the reproducible epoch-ordering
    // step before training: sort key = md5(seed || id), a seeded
    // permutation both engines derive identically. Spark executes the
    // ORDER BY as a range-partitioned distributed sort (no single-task
    // sort at any scale).
    Q("q_corpus_shuffle",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat(lit("epoch0:"), col("doc_id").cast("string"))).as("sort_key"))
        .orderBy("sort_key", "doc_id"),
      Some("""SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS sort_key
             |FROM documents ORDER BY sort_key, doc_id""".stripMargin.replace("\n", " "))),

    // Calendar gap-fill + forward fill (LOCF): each user's mean daily
    // value resampled onto their dense [first, last] day range, missing
    // days carrying the last observation — the time-series
    // regularization step before any per-period feature. Spine rows ∝
    // users × span (never events); LOCF is one key-partitioned window.
    Q("q_gapfill",
      (s, d) => Resample.gapFillDaily(
          Tables.events(s, d).filter(col("user_id") < 20),
          "user_id", "ts", round(avg(col("value")), 4))
        .orderBy("user_id", "day"),
      Some("""WITH daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             |round(avg(value), 4) AS v, 1 AS obs FROM events WHERE user_id < 20 GROUP BY 1, 2),
             |spine AS (SELECT user_id,
             |unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
             |FROM daily GROUP BY user_id),
             |j AS (SELECT s.user_id, s.day, d.v, d.obs FROM spine s
             |LEFT JOIN daily d USING (user_id, day))
             |SELECT user_id, day, last_value(v IGNORE NULLS) OVER
             |(PARTITION BY user_id ORDER BY day
             |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ff,
             |CASE WHEN obs IS NULL THEN 1 ELSE 0 END AS filled
             |FROM j ORDER BY user_id, day""".stripMargin.replace("\n", " "))),

    // Corpus-fit order-2: per-document mean log2 conditional bigram
    // probability under the corpus's own bigram model (the KenLM-style
    // fluency proxy one order above q_unigram_lm). Bigram vocabulary and
    // prefix counts stay distributed; prefix counts derive from the
    // vocabulary, not the corpus.
    Q("q_bigram_lm",
      (s, d) => TextAnalysis.bigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .select(col("id"), col("n_bigrams"),
          round(col("mean_log2p"), 3).as("mean_log2p"))
        .orderBy("id"),
      Some(BigramLmSql)),

    // q_bigram_lm's 8-byte-BIGINT-key scale variant (the hashed-gram
    // shape of q_ngram_spans_hashed, applied to the LM family's worst
    // scaler): every shuffle/join keys on a codegen'd xxhash64 BIGINT of
    // the bigram (and of its prefix word) instead of the bigram string —
    // fixed-width shuffle rows, long-compare sorts (259 MB vs 323 MB
    // shuffled, 18.9 s vs 26.2 s at ×64). Answer-identical to the exact
    // form absent ~2⁻⁶⁴ collisions, so it shares q_bigram_lm's oracle;
    // BehaviorSpec pins hashed == exact row-for-row on real data.
    Q("q_bigram_lm_hashed",
      (s, d) => TextAnalysis.bigramLogProbHashed(Tables.documents(s, d), "doc_id", "text")
        .select(col("id"), col("n_bigrams"),
          round(col("mean_log2p"), 3).as("mean_log2p"))
        .orderBy("id"),
      Some(BigramLmSql)),

    // Lexical diversity: type-token ratio + per-document token-entropy —
    // the vocabulary-richness/degeneracy quality signals (template and
    // spam pages collapse toward 0 bits). Entropy folds in ONE pass via
    // H = log2(n) − Σ c·log2 c / n.
    Q("q_lexical_diversity",
      (s, d) => TextAnalysis.lexicalStats(Tables.documents(s, d), "doc_id", "text")
        .select(col("id"), col("n_tokens"), col("n_types"),
          round(col("ttr"), 5).as("ttr"),
          round(col("entropy"), 4).as("entropy"))
        .orderBy("id"),
      Some("""WITH tc AS (SELECT doc_id AS id, tok, count(*) AS c FROM
             |(SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) x
             |GROUP BY 1, 2)
             |SELECT id, CAST(sum(c) AS BIGINT) AS n_tokens,
             |CAST(count(*) AS BIGINT) AS n_types,
             |round(CAST(count(*) AS DOUBLE) / sum(c), 5) AS ttr,
             |round(log2(CAST(sum(c) AS DOUBLE)) -
             |sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 4) AS entropy
             |FROM tc GROUP BY id ORDER BY id""".stripMargin.replace("\n", " "))),

    // Weighted PageRank over the behavioral transition graph: per-user
    // consecutive event-type pairs (one lag window over the events
    // corpus) become weighted edges, then 5 damped power iterations
    // (d=0.85) give the steady-state visit distribution. SCALE SPLIT:
    // the rank/edge tables are VOCABULARY-sized (|types| nodes, ≤|types|²
    // edges) — only the edge DERIVATION touches the corpus, once. Each
    // iteration quantizes per-edge contributions to 12 dp and sums them
    // as decimals, so ranks are bit-identical across engines by
    // induction and the unrolled DuckDB oracle hash-matches.
    Q("q_pagerank",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val pairsE = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
        val base = pairsE.groupBy(col("prev").as("src"), col("event_type").as("dst"))
          .agg(count(lit(1)).as("c"))
        val outw = base.groupBy("src").agg(sum("c").as("w"))
        // the rank/edge tables are VOCABULARY-sized; LEAF-materialize
        // them once (the Dedup.clusters lever) so no iteration's plan
        // embeds the corpus-scale lag window + edge aggregation.
        // Lazily, each of the 5 iterations re-embeds that subtree;
        // ReuseExchange MAY dedupe the identical exchanges, but that is
        // a fragile optimizer artifact (AQE replanning can break the
        // match) — the leaf makes compute-once DETERMINISTIC and keeps
        // each iteration's analyzed plan O(1). A bare persist still
        // re-analyzes the embedded corpus subtree per iteration
        // (measurably slower even at 5 iterations).
        val (edges, _) = graft.ops.Dedup.materializeLeaf(
          base.join(outw, Seq("src"))
            .select(col("src"), col("dst"),
              round(col("c").cast(DoubleType) / col("w").cast(DoubleType), 12).as("p")))
        val (nodes, _) = graft.ops.Dedup.materializeLeaf(
          edges.select(col("src").as("t"))
            .union(edges.select(col("dst").as("t"))).distinct())
        val nn = nodes.agg(count(lit(1)).as("cnt"))
        val r0 = nodes.crossJoin(broadcast(nn))
          .select(col("t"), round(lit(1.0) / col("cnt"), 12).as("r"))
        val ranks = (1 to 5).foldLeft(r0) { (r, _) =>
          // both per-iteration join sides are |types|-sized — broadcast
          // them so no iteration plans a shuffle join over tiny tables
          val s2 = edges.join(
              broadcast(r.select(col("t").as("src"), col("r"))), Seq("src"))
            .select(col("dst").as("t"),
              round(col("p") * col("r"), 12).cast("decimal(20,12)").as("contrib"))
            .groupBy("t").agg(sum("contrib").as("s"))
          nodes.crossJoin(broadcast(nn))
            .join(broadcast(s2), Seq("t"), "left")
            .select(col("t"),
              round(lit(0.15) / col("cnt") +
                lit(0.85) * coalesce(col("s").cast(DoubleType), lit(0.0)), 12).as("r"))
        }
        ranks.select(col("t").as("event_type"), round(col("r"), 8).as("rank"))
          .orderBy(desc("rank"), col("event_type"))
      },
      Some { // 5 unrolled iterations of the same quantized-decimal math
        val iter = (i: Int) =>
          s"""r$i AS (SELECT n.t, round(CAST(0.15 AS DOUBLE) / nn.cnt + 0.85 * CAST(coalesce(s.s, 0) AS DOUBLE), 12) AS r
             |FROM n CROSS JOIN nn LEFT JOIN (
             |SELECT e.dst AS t, sum(CAST(round(e.p * r.r, 12) AS DECIMAL(20,12))) AS s
             |FROM e JOIN r${i - 1} r ON e.src = r.t GROUP BY e.dst) s ON n.t = s.t)"""
        ("""WITH pe AS (SELECT user_id, ts, event_id, event_type,
           |lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |FROM events),
           |base AS (SELECT prev AS src, event_type AS dst, count(*) AS c
           |FROM pe WHERE prev IS NOT NULL GROUP BY 1, 2),
           |outw AS (SELECT src, sum(c) AS w FROM base GROUP BY src),
           |e AS (SELECT src, dst, round(CAST(c AS DOUBLE) / CAST(w AS DOUBLE), 12) AS p
           |FROM base JOIN outw USING (src)),
           |n AS (SELECT DISTINCT src AS t FROM e UNION SELECT DISTINCT dst FROM e),
           |nn AS (SELECT count(*) AS cnt FROM n),
           |r0 AS (SELECT t, round(CAST(1.0 AS DOUBLE) / cnt, 12) AS r FROM n, nn),
           |""" + (1 to 5).map(iter).mkString(",\n") + """
           |SELECT t AS event_type, round(r, 8) AS rank FROM r5
           |ORDER BY rank DESC, event_type""").stripMargin.replace("\n", " ")
      }),

    // Ordered-step funnel over the event stream: users completing
    // signup → view → click → purchase IN ORDER, first qualifying
    // occurrence per step. Each stage = one pushed-down type filter +
    // one user-keyed join against the previous stage's earliest times.
    Q("q_funnel",
      (s, d) => Behavior.funnel(Tables.events(s, d), "user_id", "ts",
          "event_type", Seq("signup", "view", "click", "purchase"))
        .orderBy("step"),
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
             |WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |JOIN s1 ON e.user_id = s1.user_id
             |WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |JOIN s2 ON e.user_id = s2.user_id
             |WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
             |s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |JOIN s3 ON e.user_id = s3.user_id
             |WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1)
             |SELECT * FROM (
             |SELECT CAST(1 AS INTEGER) AS step, 'signup' AS event_type, count(*) AS users FROM s1
             |UNION ALL SELECT 2, 'view', count(*) FROM s2
             |UNION ALL SELECT 3, 'click', count(*) FROM s3
             |UNION ALL SELECT 4, 'purchase', count(*) FROM s4) f
             |ORDER BY step""".stripMargin.replace("\n", " "))),

    // Weekly cohort retention: users cohorted by the Monday-truncated
    // week of their first event; per (cohort_week, week_offset) distinct
    // active users. Events collapse to distinct (user, week) BEFORE the
    // join — the retention join never sees the raw stream.
    Q("q_cohort_retention",
      (s, d) => Behavior.cohortRetention(Tables.events(s, d), "user_id", "ts")
        .orderBy("cohort_week", "week_offset"),
      Some("""WITH f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE)
             |AS cohort_week FROM events GROUP BY 1),
             |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE)
             |AS activity_week FROM events)
             |SELECT cohort_week,
             |CAST(date_diff('day', cohort_week, activity_week) / 7 AS INTEGER) AS week_offset,
             |count(*) AS n_users
             |FROM a JOIN f USING (user_id) GROUP BY 1, 2
             |ORDER BY cohort_week, week_offset""".stripMargin.replace("\n", " "))),

    // Per-stratum ntile sharding + percentile attribution: equal-depth
    // quartile shards of each language's documents by length, with the
    // exact cume_dist percentile — the balanced-shard assignment that
    // needs NO global sort (windows partition by the stratum; each key
    // sorts independently).
    Q("q_ntile_shard",
      (s, d) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            ntile(4).over(w).cast(LongType).as("shard"),
            round(cume_dist().over(w), 5).as("pctl"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, ntile(4) OVER w AS shard,
             |round(cume_dist() OVER w, 5) AS pctl
             |FROM documents WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Chunk → reassemble round-trip: overlap-0 chunking partitions the
    // token stream, and the shuffle-safe ordered concat
    // (TextAnalysis.reassembleChunks: position-carrying collect +
    // per-group array sort) must rebuild every document byte-exact —
    // verified by md5 against the ORIGINAL text on the oracle side.
    Q("q_reassemble",
      (s, d) => {
        val chunked = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(TextAnalysis.chunks(col("text"), size = 32, overlap = 0)))
        TextAnalysis.reassembleChunks(chunked, "doc_id", "pos", "col")
          .select(col("id"), col("n_chunks"), md5(col("text")).as("re_md5"))
          .orderBy("id")
      },
      Some("""SELECT doc_id AS id,
             |CAST(greatest(1, ceil(len(string_split(text, ' ')) / 32.0)) AS BIGINT) AS n_chunks,
             |md5(text) AS re_md5
             |FROM documents ORDER BY id""".stripMargin.replace("\n", " "))),

    // The engine's SQL "query language" surface end to end: the full
    // MinHash-LSH near-dup pipeline written as ONE Spark SQL statement
    // over the SparkSessionExtensions-registered native kernels
    // (minhash_signature, shingle_jaccard) — result-identical to the
    // DataFrame pipeline (q_minhash_lsh_pairs) and to the DuckDB oracle.
    // Same plan economics: narrow signature pass, collision-driven band
    // self-join, per-pair native verify.
    Q("q_sql_neardup",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Tables.documents(s, d).createOrReplaceTempView("graft_sql_docs")
        s.sql("""
          WITH sig0 AS (
            SELECT doc_id AS id, minhash_signature(text, 3, 6) AS s
            FROM graft_sql_docs),
          sig AS (SELECT id, s FROM sig0 WHERE s IS NOT NULL),
          bands AS (
            SELECT id, b AS band_id, concat_ws('|', s[b*2], s[b*2+1]) AS band_key
            FROM sig LATERAL VIEW explode(array(0, 1, 2)) t AS b),
          cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.id < b.id),
          scored AS (
            SELECT c.id_a, c.id_b, shingle_jaccard(ta.text, tb.text, 3) AS j
            FROM cand c
            JOIN graft_sql_docs ta ON ta.doc_id = c.id_a
            JOIN graft_sql_docs tb ON tb.doc_id = c.id_b)
          SELECT id_a, id_b, round(j, 4) AS jaccard
          FROM scored WHERE j >= 0.8 ORDER BY id_a, id_b""")
      },
      Some(NearDupPairsSql)),

    // Cross-document boilerplate removal — the MassiveText/CCNet
    // line-dedup tier above the intra-doc pass (q_paragraph_dedup): a
    // segment appearing in >= 3 DISTINCT docs (here: an injected
    // newsletter footer on every doc, plus any naturally-shared
    // generator sentences) is stripped from EVERY doc, order preserved.
    // The boilerplate set is segment-vocabulary-sized, so the filter
    // join broadcasts at any corpus scale.
    Q("q_boilerplate",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(". Subscribe to our newsletter")).as("text"))
        TextAnalysis.removeBoilerplate(docs, "doc_id", "text", minDocs = 3)
          .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
            length(col("clean")).cast("long").as("clean_len"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text || '. Subscribe to our newsletter' AS text
             |FROM documents),
             |segs AS (SELECT doc_id, t.i AS pos, s[t.i + 1] AS seg
             |FROM (SELECT doc_id, string_split(text, '. ') AS s FROM d) x,
             |LATERAL (SELECT unnest(range(0, len(s))) AS i) t),
             |boiler AS (SELECT seg FROM segs GROUP BY seg
             |HAVING count(DISTINCT doc_id) >= 3),
             |kept AS (SELECT doc_id, pos, seg FROM segs
             |WHERE seg NOT IN (SELECT seg FROM boiler)),
             |rebuilt AS (SELECT doc_id, string_agg(seg, '. ' ORDER BY pos) AS clean
             |FROM kept GROUP BY doc_id)
             |SELECT d.doc_id, md5(coalesce(r.clean, '')) AS clean_md5,
             |CAST(length(coalesce(r.clean, '')) AS BIGINT) AS clean_len
             |FROM d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
             |ORDER BY d.doc_id""".stripMargin.replace("\n", " "))),

    // URL canonicalization + canonical-key dedup — the crawl-curation
    // staple: four messy spellings per logical URL (uppercase host,
    // default port, utm tracking params, trailing slash, fragment) are
    // synthesized per doc group and must collapse to ONE canonical key.
    // TextAnalysis.canonicalUrl is a pure regexp chain in the RE2-safe
    // subset, so the oracle replays the IDENTICAL chain in DuckDB
    // (regexp_replace 'g' flag where Spark's replace-all semantics
    // matter) and the group/keeper sets match exactly.
    Q("q_url_dedup",
      (s, d) => {
        val g = expr("doc_id div 4").cast("string")
        val url = when(col("doc_id") % 4 === 0,
            concat(lit("HTTPS://Example.COM:443/data/doc"), g, lit("/?utm_source=feed#frag")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("https://example.com/data/doc"), g))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://EXAMPLE.com/data/doc"), g, lit("/")))
          .otherwise(
            concat(lit("https://example.com:443/data/doc"), g, lit("?utm_campaign=x")))
        Tables.documents(s, d).select(col("doc_id"))
          .withColumn("url", url)
          .withColumn("canonical", TextAnalysis.canonicalUrl(col("url")))
          .groupBy("canonical")
          .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("keeper"))
          .orderBy("canonical")
      },
      Some("""WITH u AS (SELECT doc_id,
             |CASE doc_id % 4
             |WHEN 0 THEN 'HTTPS://Example.COM:443/data/doc' || (doc_id // 4) || '/?utm_source=feed#frag'
             |WHEN 1 THEN 'https://example.com/data/doc' || (doc_id // 4)
             |WHEN 2 THEN 'https://EXAMPLE.com/data/doc' || (doc_id // 4) || '/'
             |ELSE 'https://example.com:443/data/doc' || (doc_id // 4) || '?utm_campaign=x' END AS url
             |FROM documents),
             |parts AS (SELECT doc_id,
             |lower(regexp_extract(regexp_replace(url, '#.*', ''),
             |'^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) AS auth,
             |regexp_replace(regexp_replace(url, '#.*', ''),
             |'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
             |FROM u),
             |c AS (SELECT doc_id,
             |(CASE WHEN auth LIKE 'http://%' THEN regexp_replace(auth, ':80$', '')
             |WHEN auth LIKE 'https://%' THEN regexp_replace(auth, ':443$', '')
             |ELSE auth END) ||
             |regexp_replace(regexp_extract(rest, '^[^?]*', 0), '/$', '') ||
             |regexp_replace(regexp_replace(regexp_replace(
             |regexp_replace(rest, '^[^?]*', ''),
             |'&utm_[^&]*', '', 'g'), '\?utm_[^&]*&', '?'), '\?utm_[^&]*$', '') AS canonical
             |FROM parts)
             |SELECT canonical, CAST(count(*) AS BIGINT) AS n_variants,
             |min(doc_id) AS keeper
             |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin.replace("\n", " "))),

    // The typed-Aggregator surface of the MinHash signature (§2.9 UDAF
    // capability, graft.functions.MinHashAggregator): shingles aggregated
    // through functions.udaf — buffer = the k component minima, merged
    // associatively (map-side partial combine for free). Must produce the
    // IDENTICAL signature as the codegen'd k×min(md5-chunk) production
    // path, so the oracle is the same md5-chunk CTE the relational
    // pipeline verifies against.
    Q("q_minhash_udaf",
      (s, d) => {
        val mh = udaf(new graft.functions.MinHashAggregator(6),
          org.apache.spark.sql.Encoders.STRING)
        val sh = Dedup.shingles(Tables.documents(s, d), "doc_id", "text")
        sh.groupBy(col("id").as("doc_id"))
          .agg(mh(col("shingle")).as("sig"))
          .select(col("doc_id") +:
            (0 until 6).map(i => element_at(col("sig"), i + 1).as(s"s$i")): _*)
          .orderBy("doc_id")
      },
      Some(MinhashSignatureSql)),

    // Sketch-accuracy diagnostic: for every verified near-dup pair, the
    // MinHash ESTIMATE of Jaccard (fraction of agreeing signature
    // components) next to the exact value — the per-pair view of the
    // estimator the LSH banding is built on, oracle-checked because the
    // signature scheme is a deterministic function of the text. At scale
    // this is how you audit whether k is large enough for the corpus.
    Q("q_minhash_estimate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = NearDupJ)
        val sig = Dedup.minhashSignatureNarrow(docs, "doc_id", "text")
        val sa = sig.toDF("id_a" +: (0 until LshK).map(i => s"a$i"): _*)
        val sb = sig.toDF("id_b" +: (0 until LshK).map(i => s"b$i"): _*)
        val agree = (0 until LshK)
          .map(i => (col(s"a$i") === col(s"b$i")).cast("int"))
          .reduce(_ + _)
        pairs.join(sa, "id_a").join(sb, "id_b")
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 4).as("jaccard"),
            round(agree.cast(DoubleType) / LshK.toDouble, 4).as("estimate"))
          .orderBy("id_a", "id_b")
      },
      Some(DedupSql.answer(DedupSql.shingles(), DedupSql.Lsh, DedupSql.Verified)(
        s"""SELECT v.id_a, v.id_b, round(v.j, 4) AS jaccard,
           |round((${(0 until LshK).map(i => s"CAST(a.s$i = b.s$i AS INT)").mkString(" + ")})
           |/ ${LshK.toDouble}, 4) AS estimate
           |FROM vpairs v JOIN sig a ON v.id_a = a.id JOIN sig b ON v.id_b = b.id
           |ORDER BY v.id_a, v.id_b""".stripMargin))),

    // Mixture drift monitoring: KL(source ‖ corpus) over unigram
    // distributions, in bits — flags the source whose language shifted.
    // The corpus distribution derives from the per-source vocabulary
    // (vocab-sized), never from a second corpus scan.
    Q("q_domain_kl",
      (s, d) => TextAnalysis.domainKl(Tables.documents(s, d), "source", "text")
        .select(col("stratum"), col("n_tokens"),
          round(col("kl_bits"), 4).as("kl_bits"))
        .orderBy("stratum"),
      Some("""WITH tok AS (SELECT source AS stratum, unnest(string_split(text, ' ')) AS tok
             |FROM documents),
             |bs AS (SELECT stratum, tok, count(*) AS cs FROM tok GROUP BY 1, 2),
             |st AS (SELECT stratum, sum(cs) AS ns FROM bs GROUP BY 1),
             |cp AS (SELECT tok, sum(cs) AS cc FROM bs GROUP BY 1),
             |tt AS (SELECT sum(cc) AS nc FROM cp)
             |SELECT stratum, CAST(ns AS BIGINT) AS n_tokens,
             |round(sum((CAST(cs AS DOUBLE) / ns) *
             |log2((CAST(cs AS DOUBLE) / ns) / (CAST(cc AS DOUBLE) / nc))), 4) AS kl_bits
             |FROM bs JOIN cp USING (tok) JOIN st USING (stratum) CROSS JOIN tt
             |GROUP BY stratum, ns ORDER BY stratum""".stripMargin.replace("\n", " "))),

    // kNN label classification over the labeled embedding table — the
    // standard embedding-quality eval (do nearest neighbors share a
    // label?): top-5 cosine neighbors per query vector (self excluded),
    // majority vote with deterministic tie-breaks (votes desc, label
    // asc), per-true-label accuracy counts. Composes the oracle-proven
    // exact ANN join; the LSH/IVF probes are the drop-in scale path for
    // the neighbor stage. k=6-with-self == k=5-without: self always
    // ranks first at sim 1.0 on this duplicate-free table.
    Q("q_knn_classify",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // exact neighbor stage at oracle scale; the LSH multi-probe
        // variant drops in as the same one-argument swap at corpus scale
        // (accuracy delta vs exact spec-bounded in ExtensionsSpec)
        Similarity.knnClassify(
          emb.filter(col("vec_id") < 100), emb, "vec_id", "embedding", "label",
          (q, c) => Similarity.annJoinExact(q, c, "vec_id", "embedding", k = 6))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe, label AS truth
             |FROM embeddings WHERE vec_id < 100),
             |sims AS (SELECT qid, truth, c.vec_id AS cid, c.label AS nlabel,
             |list_cosine_similarity(qe, CAST(c.embedding AS DOUBLE[])) AS sim
             |FROM q, embeddings c WHERE c.vec_id <> qid),
             |top5 AS (SELECT qid, truth, nlabel FROM (SELECT qid, truth, nlabel,
             |row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk FROM sims) t
             |WHERE rk <= 5),
             |votes AS (SELECT qid, truth, nlabel, count(*) AS nv FROM top5 GROUP BY 1, 2, 3),
             |pred AS (SELECT qid, truth, nlabel AS pred FROM (SELECT qid, truth, nlabel,
             |row_number() OVER (PARTITION BY qid ORDER BY nv DESC, nlabel) AS rk FROM votes) t
             |WHERE rk = 1)
             |SELECT truth, CAST(count(*) AS BIGINT) AS n,
             |CAST(sum(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
             |FROM pred GROUP BY truth ORDER BY truth""".stripMargin.replace("\n", " "))),

    // Outer explode — the accounting-correctness corner of every token
    // pipeline: a plain explode silently DROPS documents whose array is
    // empty (here: docs with zero stopwords), understating corpus counts;
    // explode_outer keeps them as a NULL row. The oracle emulates outer
    // semantics by wrapping empty lists as [NULL] before unnest; NULLS
    // FIRST pinned explicitly (Spark ASC default) so both engines order
    // the marker rows identically.
    Q("q_explode_outer",
      (s, d) => {
        val sw = filter(TextAnalysis.tokens(col("text")),
          t => t.isin(TextAnalysis.StopwordsEn.map(lit): _*))
        Tables.documents(s, d)
          .select(col("doc_id"), explode_outer(sw).as("tok"))
          .orderBy(col("doc_id"), col("tok").asc_nulls_first)
      },
      Some(s"""WITH f AS (SELECT doc_id,
             |list_filter(string_split(text, ' '), t -> t IN (${inList(TextAnalysis.StopwordsEn)})) AS sw
             |FROM documents),
             |w AS (SELECT doc_id, CASE WHEN len(sw) = 0 THEN [NULL] ELSE sw END AS sw2 FROM f)
             |SELECT doc_id, unnest(sw2) AS tok FROM w
             |ORDER BY doc_id, tok NULLS FIRST""".stripMargin.replace("\n", " "))),

    // The end-to-end corpus-curation user story as ONE composed query —
    // the pipeline a lab actually runs before training: quality gate
    // (stopword ratio) → near-dup canonical collapse (MinHash/LSH pairs →
    // cluster closure → min-id representative) → benchmark
    // decontamination (3-gram overlap vs the held-out eval set) →
    // deterministic hash split → per-split doc/token stats. Every stage
    // is individually oracle-checked elsewhere (q_quality_filter,
    // q_dedup_canonical, q_decontaminate, q_hash_split); this entry
    // proves they COMPOSE: one lazy plan, stage boundaries are plain
    // DataFrames. Scale posture: the stages chain scans/joins that are
    // each bounded the same way their standalone queries are (LSH is
    // collision-driven + capped, the bench shingle set broadcasts, the
    // split is a projection); a production run materializes stage outputs
    // via etl.Versioned.publish instead of recomputing the lineage.
    Q("q_curation_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") % 50 === 0)
        val toks = TextAnalysis.tokens(col("text"))
        // the quality-filtered corpus feeds THREE consumers too (the
        // near-dup signature pass, the verification text fetch, and the
        // canonical anti-join) — leaf-materialize it like `ded` below,
        // or each consumer re-runs the tokenize + per-token stopword
        // membership scan (r18; same rationale as the ded leaf)
        val (q, _) = Dedup.materializeLeaf(docs.filter(col("doc_id") % 50 =!= 0)
          .filter((size(filter(toks, t => t.isin(TextAnalysis.StopwordsEn.map(lit): _*)))
            .cast(DoubleType) / size(toks).cast(DoubleType)) >= 0.05))
        val pairs = Dedup.nearDupPairs(q, "doc_id", "text", threshold = NearDupJ)
          .select("id_a", "id_b")
        // the canonical corpus feeds THREE downstream branches (the
        // contamination ratio's own/hits sides and the final anti-join) —
        // materialize it once as a leaf or each branch re-runs the
        // quality scan + collapse (3 extra corpus passes at 100 TB)
        val (ded, _) = Dedup.materializeLeaf(
          Dedup.canonicalDocs(q, "doc_id", pairs))
        val contaminated = Dedup.contamination(ded, bench, "doc_id", "text")
          .filter(col("overlap_ratio") > 0.5)
          .select(col("id").as("doc_id"))
        val clean = ded.join(contaminated, Seq("doc_id"), "left_anti")
        Sampling.deterministicSplit(clean, "doc_id")
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
          .orderBy("split")
      },
      Some(DedupSql.answer(
        s"""corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
           |q AS (SELECT doc_id, text FROM corp
           |WHERE CAST(len(list_filter(string_split(text,' '), t -> t IN (${inList(TextAnalysis.StopwordsEn)}))) AS DOUBLE)
           |/ CAST(len(string_split(text,' ')) AS DOUBLE) >= 0.05)""".stripMargin,
        DedupSql.shingles(from = "q"), DedupSql.Lsh, DedupSql.Verified, DedupSql.closure(),
        s"ded AS (SELECT doc_id, text FROM q WHERE ${DedupSql.Survives})",
        DedupSql.shingles("dsh", "ded"), DedupSql.shingles("bsh", "documents WHERE doc_id % 50 = 0"),
        """ratio AS (SELECT id, CAST(count(*) FILTER (WHERE shingle IN (SELECT shingle FROM bsh)) AS DOUBLE)
          |/ count(*) AS r FROM dsh GROUP BY id),
          |clean AS (SELECT dd.doc_id, dd.text FROM ded dd LEFT JOIN ratio ON dd.doc_id = ratio.id
          |WHERE coalesce(r, 0) <= 0.5)""".stripMargin)(
        """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
          |CAST(count(*) AS BIGINT) AS n_docs,
          |CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
          |FROM (SELECT doc_id, text,
          |CAST(concat('0x', substring(md5(coalesce(CAST(doc_id AS VARCHAR), '')),1,4)) AS BIGINT) % 100 AS b
          |FROM clean) x
          |GROUP BY 1 ORDER BY 1""".stripMargin))),

    // The curation pipeline's join stage on a BUCKETED layout: documents
    // and their per-doc token stats are written once as co-bucketed
    // tables on doc_id (16 buckets, sorted), so the quality join —
    // re-run every sync tick at 100 TB — plans as a SortMergeJoin with
    // ZERO Exchange and zero Sort on either side: the shuffle is paid
    // once at write time, not per query (PlanSpec pins the Exchange
    // count; the only shuffle left is the final per-source rollup). The
    // write is guarded per-session+sf, so the timed body of a bench
    // rerun is the pure co-located join.
    Q("q_curation_bucketed",
      (s, d) => {
        val base = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
        val docsT = s"graft_curb_docs_$base"
        val statsT = s"graft_curb_stats_$base"
        if (!s.catalog.tableExists(docsT) || !s.catalog.tableExists(statsT)) {
          val docs = Tables.documents(s, d)
          graft.etl.Bucketing.writeBucketed(
            docs.select(col("doc_id"), col("source"), col("lang")),
            docsT, Seq("doc_id"), numBuckets = 16)
          graft.etl.Bucketing.writeBucketed(
            docs.select(col("doc_id"),
              TextAnalysis.tokenCount(col("text")).as("n_tokens")),
            statsT, Seq("doc_id"), numBuckets = 16)
        }
        graft.etl.Bucketing.readBucketed(s, docsT)
          .join(graft.etl.Bucketing.readBucketed(s, statsT), Seq("doc_id"))
          .filter(col("n_tokens") >= 20)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
          .orderBy("source")
      },
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
             |FROM documents WHERE len(string_split(text, ' ')) >= 20
             |GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "))),

    // Versioned extract lifecycle (etl.Versioned) end to end: publish v1
    // (even docs), publish v2 (all docs), roll the `_LATEST` pointer back
    // to v1, then answer every question a lake operator asks — what does
    // a latest-reader see after rollback, does time travel still serve
    // both immutable snapshots, how many versions are on storage. The
    // oracle reproduces each snapshot's row count from the source table
    // (snapshots are deterministic selections), proving publish/rollback
    // never lose or duplicate rows. Counts are metadata-scale actions;
    // the only data-scale work is the two snapshot writes.
    Q("q_versioned_publish",
      (s, d) => {
        import s.implicits._
        val root = Fixtures.dir("extract_versioned_pub", d)
        val (fs, p) = graft.etl.Refresh.hfs(s, root)
        if (fs.exists(p)) fs.delete(p, true)
        val docs = Tables.documents(s, d)
        val v1 = graft.etl.Versioned.publish(docs.filter(col("doc_id") % 2 === 0), root)
        val v2 = graft.etl.Versioned.publish(docs, root)
        graft.etl.Versioned.rollback(s, root, v1)
        Seq(
          ("latest_after_rollback_rows", graft.etl.Versioned.readLatest(s, root).count()),
          ("n_versions", graft.etl.Versioned.listVersions(s, root).size.toLong),
          ("v1_rows", graft.etl.Versioned.readVersion(s, root, v1).count()),
          ("v2_rows", graft.etl.Versioned.readVersion(s, root, v2).count()))
          .toDF("metric", "value").orderBy("metric")
      },
      Some("""SELECT 'latest_after_rollback_rows' AS metric,
             |CAST(count(*) AS BIGINT) AS value FROM documents WHERE doc_id % 2 = 0
             |UNION ALL SELECT 'n_versions', CAST(2 AS BIGINT)
             |UNION ALL SELECT 'v1_rows',
             |(SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 2 = 0)
             |UNION ALL SELECT 'v2_rows',
             |(SELECT CAST(count(*) AS BIGINT) FROM documents)
             |ORDER BY metric""".stripMargin.replace("\n", " "))),

    // Join-key skew audit (X137): the PRE-join diagnostic that decides
    // whether a key needs q_salted_join's remedy — top-20 heaviest keys
    // with absolute count, corpus share, and the recommended salt
    // factor ceil(count·n_keys/total) (how many subkeys spread this
    // key's rows back to the mean partition load). One map-side-combined
    // groupBy on the key is the only data-scale shuffle; the totals row
    // is a 1-row broadcast; top-20 plans as TakeOrderedAndProject. The
    // salt factor divides EXACT integers by an exactly-representable
    // total, so one IEEE division gives both engines the same double →
    // the same ceil (no avg() round-trip, whose accumulation order is
    // engine-private).
    Q("q_skew_audit",
      (s, d) => {
        val counts = Tables.lineitem(s, d)
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).cast(LongType).as("n_rows"))
        val tot = counts.agg(
          sum(col("n_rows")).cast(DoubleType).as("__total"),
          count(lit(1)).cast(LongType).as("__nk"))
        counts.crossJoin(broadcast(tot))
          .select(col("l_suppkey"), col("n_rows"),
            round(col("n_rows") / col("__total"), 6).as("share"),
            ceil((col("n_rows") * col("__nk")) / col("__total"))
              .cast(LongType).as("salt_factor"))
          .orderBy(col("n_rows").desc, col("l_suppkey"))
          .limit(20)
      },
      Some("""WITH c AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_rows
             |FROM lineitem GROUP BY 1),
             |t AS (SELECT CAST(sum(n_rows) AS DOUBLE) AS total,
             |CAST(count(*) AS BIGINT) AS nk FROM c)
             |SELECT l_suppkey, n_rows, round(n_rows / total, 6) AS share,
             |CAST(ceil((n_rows * nk) / total) AS BIGINT) AS salt_factor
             |FROM c, t ORDER BY n_rows DESC, l_suppkey
             |LIMIT 20""".stripMargin.replace("\n", " "))),

    // Semantic benchmark decontamination (X138): the embedding-space
    // tier of X34/X59's n-gram decontamination — flag TRAIN vectors
    // whose cosine against ANY eval-suite vector reaches τ (paraphrased
    // leakage that shares no n-grams). The eval suite is BOUNDED by
    // construction (a benchmark, not a corpus), so it broadcasts and
    // the join is a nested-loop scan of train with the codegen'd
    // cosine_sim in the condition — train is scanned once, never
    // shuffled; the only shuffle is the vec_id-keyed partial agg over
    // the O(hits) matches. Zero-norm vectors drop on BOTH engines
    // (Spark cosine_sim → NULL predicate, DuckDB → −1 < τ).
    Q("q_semantic_decontaminate",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val eval = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("eval_id"), col("embedding").as("__ev"))
        val sim = Similarity.cosine(col("embedding"), col("__ev"))
        emb.filter(col("vec_id") >= 20)
          .join(broadcast(eval), sim >= 0.3)
          .select(col("vec_id"), sim.as("__sim"))
          .groupBy("vec_id")
          .agg(count(lit(1)).cast(LongType).as("n_hits"),
            round(max(col("__sim")), 6).as("max_sim"))
          .orderBy("vec_id")
      },
      Some("""WITH ev AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS v
             |FROM embeddings WHERE vec_id < 20),
             |tr AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |FROM embeddings WHERE vec_id >= 20),
             |hits AS (SELECT tr.vec_id, list_cosine_similarity(tr.v, ev.v) AS sim
             |FROM tr JOIN ev ON list_cosine_similarity(tr.v, ev.v) >= 0.3)
             |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_hits,
             |round(max(sim), 6) AS max_sim
             |FROM hits GROUP BY vec_id ORDER BY vec_id""".stripMargin.replace("\n", " "))),

    // Entity resolution end to end (X139): the record-linkage user
    // story COMPOSED — messy records (two deterministic typo tiers over
    // the same heads: 5th char deleted on every 3rd id, 10th on every
    // 4th) → blocked fuzzy self-join (q_fuzzy_join's cascade, id_a <
    // id_b) → pointer-doubling cluster closure (q_dedup_clusters'
    // kernel) → survivorship: one entity row per cluster with its
    // record count and the canonical (min-id, i.e. original-tier)
    // record's length. Candidate generation shuffles on the scale
    // default (3-char prefix, length-band) composite key — the banded
    // key BANDPROOF measured at 25.6× fewer candidate pairs; rows are
    // band-invariant by the ±1-emission recall argument ExtensionsSpec
    // pins, so the prefix-only oracle below is unchanged. The closure
    // is O(α·E) on the O(dups) pair set; survivorship is one keyed
    // groupBy + one equi-join back to the records. ORACLE DOMAIN
    // NOTE: levenshtein byte-vs-codepoint
    // divergence is moot on this ASCII fixture (same note as
    // q_fuzzy_join; the Unicode contract is q_fuzzy_join_unicode's).
    Q("q_entity_resolution",
      (s, d) => {
        val a = Tables.documents(s, d).filter(col("doc_id") < 400)
          .select(col("doc_id").as("rid"),
            lower(substring(col("text"), 1, 40)).as("rs"))
        val b = a.filter(col("rid") % 3 === 0)
          .select((col("rid") + 20000).as("rid"),
            concat(substring(col("rs"), 1, 4), expr("substring(rs, 6)")).as("rs"))
        val c = a.filter(col("rid") % 4 === 0)
          .select((col("rid") + 40000).as("rid"),
            concat(substring(col("rs"), 1, 9), expr("substring(rs, 11)")).as("rs"))
        val recs = a.union(b).union(c)
        val pairs = graft.ops.Linkage.fuzzyJoin(
            recs.select(col("rid").as("id_a"), col("rs").as("s_a")),
            recs.select(col("rid").as("id_b"), col("rs").as("s_b")),
            "s_a", "s_b", maxDist = 2, prefixLen = 3, lengthBand = 8)
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
        Dedup.clusters(pairs)
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).cast(LongType).as("n_records"))
          .join(recs.withColumnRenamed("rid", "cluster_id"), Seq("cluster_id"))
          .select(col("cluster_id"), col("n_records"),
            length(col("rs")).as("canon_len"))
          .orderBy("cluster_id")
      },
      Some(DedupSql.answer(
        """a AS (SELECT doc_id AS rid, lower(substr(text, 1, 40)) AS rs
          |FROM documents WHERE doc_id < 400),
          |b AS (SELECT rid + 20000 AS rid, substr(rs, 1, 4) || substr(rs, 6) AS rs
          |FROM a WHERE rid % 3 = 0),
          |c AS (SELECT rid + 40000 AS rid, substr(rs, 1, 9) || substr(rs, 11) AS rs
          |FROM a WHERE rid % 4 = 0),
          |recs AS (SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c),
          |cand AS (SELECT x.rid AS id_a, y.rid AS id_b FROM recs x JOIN recs y
          |ON lower(substr(x.rs, 1, 3)) = lower(substr(y.rs, 1, 3))
          |AND abs(length(x.rs) - length(y.rs)) <= 2 AND x.rid < y.rid
          |WHERE levenshtein(x.rs, y.rs) <= 2)""".stripMargin,
        DedupSql.closure("cand"),
        """ent AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_records
          |FROM cl GROUP BY cluster_id)""".stripMargin)(
        """SELECT e.cluster_id, e.n_records, CAST(length(r.rs) AS INTEGER) AS canon_len
          |FROM ent e JOIN recs r ON r.rid = e.cluster_id
          |ORDER BY cluster_id""".stripMargin)))
  )
}
