package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.dedup.Dedup
import graft.embed.DeterministicEmbedder
import graft.functions.{Hyperplanes, TextFunctions, VectorFunctions}
import graft.operators.Sessionize
import graft.search.{HybridSearch, TextSearch, VectorSearch}
import graft.table.LocalFs
import graft.text.TextAnalysis

/** Driver contract — the registry of every implemented operator
  * (SURVEY.md §2) with a DuckDB-oracle SQL equivalent per query.
  *
  * Parity rules used throughout (driver hash-compares values + schema):
  *  - every computed/aggregated column is aliased identically in Spark
  *    and SQL;
  *  - every query has a deterministic total ORDER BY (unique tiebreak);
  *  - money/metric aggregations go through DECIMAL(18,4) (the fixture
  *    doubles are exact 2-dp values) and cast back to DOUBLE — exact on
  *    both engines, no FP-association drift;
  *  - scores (cosine/BM25/jaccard/quality) are `round(x, 6)` on both
  *    sides — double association differences (~1e-15) can't cross a 1e-6
  *    rounding boundary in practice;
  *  - integer aggregates are cast to BIGINT on both sides (DuckDB
  *    `sum(int)` would otherwise return HUGEINT);
  *  - md5-derived hashing everywhere (portable across engines).
  */
object SparkEntry {

  // ---- shared constants (both the Spark plan and the oracle SQL are
  // generated from these, so they cannot drift) ---------------------------

  val QueryText  = "spark join merge sort window"
  val EmbedDim   = 64

  /** The reference's hard vector width (`elasticsearch_index.py:41-42`)
    * — q357 exercises the quantization/guard path at this dim over a
    * generated lattice table; the fixture corpus stays dim 64. */
  val Dim1024 = 1024

  /** q357 query vector: same exact-in-float lattice law as the
    * generated table ((i·29 + 7) mod 97, shifted/scaled by powers of
    * two), so the oracle computes it in SQL instead of shipping 1024
    * literals. */
  val Dim1024QueryVec: Array[Float] = Array.tabulate(Dim1024)(j =>
    ((((j + 1) * 29 + 7) % 97) - 48).toFloat / 16.0f)
  val Embedder   = DeterministicEmbedder(EmbedDim)
  val QueryVec: Array[Float] = Embedder.embed(QueryText)
  val QueryTerms: Array[String] =
    QueryText.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct

  /** Deterministic batch-search query set (q88/q89): N queries scored in
    * ONE pass over the persisted index — the pipeline-scale form of the
    * reference's one-query-per-HTTP-request serving. */
  val BatchQueries: Seq[(Long, String)] = Seq(
    1L -> QueryText,
    2L -> "filter group data stream customer",
    3L -> "table scan part order key")

  /** q173 blocklist: token-level gate terms (C4-badwords stand-ins from
    * the fixture vocabulary so the gate does real work; both the Spark
    * literal and the oracle list interpolate from here). */
  val BlocklistTerms: Seq[String] = Seq("slow", "dup", "error")
  private def blocklistSql: String =
    BlocklistTerms.map(t => s"'$t'").mkString("[", ",", "]")

  /** q150 dis_max second clause + boosting negative term (eager: the
    * oracle SQL is interpolated at registry construction). */
  val DisMaxClause2: Seq[String] =
    "filter group data stream customer".split(" ").toSeq
  val DisMaxNegative: String = "table"

  /** Exact decimal rendering of a double — parses back to the identical
    * double in DuckDB. */
  private def dec(x: Double): String = new java.math.BigDecimal(x).toPlainString

  /** Query-vector L2 norm, computed with the same left-fold the Spark
    * expression uses so the inlined constant matches bit-for-bit. */
  val QueryNorm: Double =
    math.sqrt(QueryVec.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))

  private val qvSql = QueryVec.map(f => dec(f.toDouble))
    .mkString("[", ",", "]::DOUBLE[]")
  private val qtermsSql = QueryTerms.map(t => s"'$t'").mkString("[", ",", "]")

  /** Shared DuckDB fragments mirroring TextFunctions. */
  private val toksSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
  private def md5LongSql(e: String) =
    s"(('0x' || substr(md5($e),1,15))::UBIGINT)::BIGINT"
  private val shinglesSql = // 3-token shingles over alias l
    "[l[i] || ' ' || l[i+1] || ' ' || l[i+2] for i in range(1, len(l)-1)]"

  /** Shared DuckDB CTE chain ending in `pairs(a, b)` — the minhash-LSH
    * candidate pairs with the hot-key cap, mirrored from
    * [[Dedup.minhashCandidatePairs]] over source relation `src`. Used by
    * q20 (the pairs themselves), q60 (connected components over them),
    * q71 (incremental split) and q76 (the curation pipeline). */
  private def minhashPairCtes(src: String = "documents"): String = {
    val nBands = Dedup.NumHashes / Dedup.BandSize
    val hs = (0 until Dedup.NumHashes).map(i =>
      s"list_min([md5('$i:' || s) for s in sh]) AS h$i").mkString(", ")
    val bands = (0 until nBands).map { b =>
      val cols = (0 until Dedup.BandSize)
        .map(j => s"h${b * Dedup.BandSize + j}").mkString(" || '|' || ")
      s"md5($cols) AS b$b"
    }.mkString(", ")
    val bandArr = (0 until nBands).map(i => s"b$i").mkString("[", ",", "]")
    s"""sigs AS (
       |  SELECT doc_id, $hs
       |  FROM (SELECT doc_id, $shinglesSql AS sh
       |        FROM (SELECT doc_id, $toksSql AS l FROM $src))),
       |bands AS (SELECT doc_id, $bands FROM sigs),
       |exploded AS (SELECT doc_id, unnest($bandArr) AS band FROM bands),
       |ok AS (SELECT band FROM exploded GROUP BY band
       |       HAVING count(DISTINCT doc_id) <= ${Dedup.MaxGroupSize}),
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM exploded l JOIN exploded r ON l.band = r.band
       |  WHERE l.doc_id < r.doc_id
       |    AND l.band IN (SELECT band FROM ok))""".stripMargin
  }

  /** DuckDB mirror of TextAnalysis.qualityScore over column `text`
    * (shared by q15 and q68). */
  private val qualitySql =
    s"""round(0.25 * least(length(text)::DOUBLE / 200.0, 1.0)
       |      + 0.25 * (CASE WHEN length(text) = 0 THEN 0.0
       |          ELSE length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE / length(text)::DOUBLE END)
       |      + 0.25 * (CASE WHEN length(text) = 0 THEN 0.0
       |          ELSE 1.0 - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
       |                           / greatest(len($toksSql)::DOUBLE, 1.0), 1.0) END)
       |      + 0.25 * (1.0 - least(abs((CASE WHEN len($toksSql) = 0 THEN 0.0
       |          ELSE length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE / len($toksSql)::DOUBLE END) - 5.0) / 5.0, 1.0)), 6)""".stripMargin

  /** DuckDB cosine vs the query vector (doc side `embedding`). */
  /** DuckDB cosine of `embedding` against an inlined query vector (norm
    * precomputed with the same left-fold the Spark expression uses). */
  private def cosSqlFor(qv: Array[Float]): String = {
    val qn  = math.sqrt(qv.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
    val arr = qv.map(f => dec(f.toDouble)).mkString("[", ",", "]::DOUBLE[]")
    val dot = s"list_dot_product(embedding::DOUBLE[], $arr)"
    val na  = "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    s"(CASE WHEN $na = 0 OR ${dec(qn)} = 0 THEN 0.0 " +
      s"ELSE $dot / ($na * ${dec(qn)}) END)"
  }
  private val cosSql = cosSqlFor(QueryVec)

  /** q198 Matryoshka knobs; the oracle mirrors the full two-stage
    * pipeline, so any (prefixDim, shortlist) is oracle-exact. */
  private val MrlPrefixDim = 16
  private val MrlShortlist = 100

  /** q199 PPJoin similarity threshold. */
  private val PpJoinTau = 0.6

  /** DuckDB cosine of the first `d` dims of `embedding` against the
    * matching prefix of the query vector (q198's coarse stage). */
  private def cosSqlPrefix(d: Int): String = {
    val pref = QueryVec.take(d)
    val qn = math.sqrt(pref.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    val arr = pref.map(f => dec(f.toDouble)).mkString("[", ",", "]::DOUBLE[]")
    val e   = s"(embedding[1:$d])::DOUBLE[]"
    val dot = s"list_dot_product($e, $arr)"
    val na  = s"sqrt(list_dot_product($e, $e))"
    s"(CASE WHEN $na = 0 OR ${dec(qn)} = 0 THEN 0.0 " +
      s"ELSE $dot / ($na * ${dec(qn)}) END)"
  }

  /** q203 misspelled query terms (typos of fixture vocabulary:
    * spark / window / merge). */
  private val SpellQueries = Seq("sparc", "windw", "merg")

  /** DuckDB: single-char deletes of `c` plus `c` itself, deduped —
    * mirror of SpellCorrect.deletesExpr. */
  private def deletesSql(c: String): String =
    s"list_distinct(list_append(" +
      s"[$c[1:i-1] || $c[i+1:length($c)] for i in range(1, length($c)+1)]" +
      s", $c))"

  /** q204 knobs. */
  private val KCenterK = 6

  /** DuckDB left-assoc squared distance of `embedding` to a one-row
    * vector relation aliased `$a` with list column `e` — term-for-term
    * the association [[graft.operators.Coreset]] uses. */
  private def sqDistSql(a: String): String =
    (0 until EmbedDim).map { i =>
      val x = s"embedding[${i + 1}]::DOUBLE"
      val c = s"$a.e[${i + 1}]::DOUBLE"
      s"($x - $c) * ($x - $c)"
    }.mkString(" + ")

  /** DuckDB replay of the greedy k-center chain: step J scores every
    * unselected row by round-6 least distance to the J−1 picks
    * (argmax, id tiebreak) — the same deterministic selection
    * [[graft.operators.Coreset.kCenter]] makes. */
  private def kcenterSql(k: Int): String = {
    val ctes = new StringBuilder(
      "WITH c1 AS (SELECT vec_id, 0.0 AS dist FROM embeddings " +
        "ORDER BY vec_id LIMIT 1),\n" +
      "c1v AS (SELECT embedding AS e FROM embeddings " +
        "WHERE vec_id = (SELECT vec_id FROM c1))")
    for (j <- 2 to k) {
      val froms = (1 until j).map(i => s"c${i}v v$i").mkString(", ")
      val dists = (1 until j).map(i => sqDistSql(s"v$i"))
      val d = if (dists.length == 1) dists.head
        else s"least(${dists.mkString(", ")})"
      val notIn = (1 until j).map(i => s"SELECT vec_id FROM c$i")
        .mkString(" UNION ALL ")
      ctes.append(
        s""",
           |c$j AS (SELECT vec_id, round($d, 6) AS dist
           |  FROM embeddings, $froms
           |  WHERE vec_id NOT IN ($notIn)
           |  ORDER BY dist DESC, vec_id LIMIT 1),
           |c${j}v AS (SELECT embedding AS e FROM embeddings
           |  WHERE vec_id = (SELECT vec_id FROM c$j))""".stripMargin)
    }
    val sel = (1 to k)
      .map(j => s"SELECT $j::INT AS rank, vec_id, dist FROM c$j")
      .mkString("\nUNION ALL ")
    s"$ctes\n$sel\nORDER BY rank"
  }

  /** DuckDB replay of the centroid silhouette: q79-exact centroids,
    * left-assoc round-6 distances, (b−a)/max(a,b), decimal-summed
    * per-label mean — mirror of
    * [[graft.operators.ClusterEval.centroidSilhouette]]. */
  private def silhouetteSql: String = {
    val dist = (0 until EmbedDim).map { i =>
      val x = s"e.embedding[${i + 1}]::DOUBLE"
      val cc = s"c.cv[${i + 1}]"
      s"($x - $cc) * ($x - $cc)"
    }.mkString(" + ")
    s"""WITH comp AS (
       |  SELECT label, pos,
       |    round(sum(round(v::DOUBLE, 6)::DECIMAL(18,10))::DOUBLE
       |      / count(*), 6) AS c
       |  FROM (SELECT label, unnest(embedding) AS v,
       |          generate_subscripts(embedding, 1) AS pos
       |        FROM embeddings)
       |  GROUP BY 1, 2),
       |cent AS (SELECT label, list(c ORDER BY pos) AS cv
       |         FROM comp GROUP BY 1),
       |d AS (
       |  SELECT e.vec_id, e.label AS elabel, c.label AS clabel,
       |    round($dist, 6) AS dist
       |  FROM embeddings e, cent c),
       |ab AS (
       |  SELECT vec_id, elabel,
       |    max(CASE WHEN clabel = elabel THEN dist END) AS a,
       |    min(CASE WHEN clabel <> elabel THEN dist END) AS b
       |  FROM d GROUP BY 1, 2),
       |sil AS (
       |  SELECT elabel AS label,
       |    round(CASE WHEN greatest(a, b) = 0 THEN 0.0
       |      ELSE (b - a) / greatest(a, b) END, 6) AS s
       |  FROM ab)
       |SELECT label, count(*)::BIGINT AS n_vecs,
       |  round(sum(s::DECIMAL(18,10))::DOUBLE / count(*), 6)
       |    AS mean_silhouette
       |FROM sil GROUP BY label ORDER BY label""".stripMargin
  }

  /** DuckDB LSH bucket expression over column `embedding` — generated from
    * the same hyperplanes as VectorFunctions.lshSignature (left-assoc sum,
    * identical arithmetic order → identical sign decisions). */
  private def lshBucketSql(nBits: Int = 8, col: String = "embedding"): String = {
    val planes = Hyperplanes.planes(EmbedDim, nBits, 42L)
    (0 until nBits).map { i =>
      val proj = (0 until EmbedDim)
        .map(j => s"$col[${j + 1}]::DOUBLE * ${dec(planes(i)(j))}")
        .mkString(" + ")
      s"(CASE WHEN ($proj) > 0.0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  // ---- driver contract ---------------------------------------------------

  /** Flagship: hybrid BM25+kNN search (reference E3) on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    HybridSearch.search(Tables.documents(spark, d),
      Tables.embeddings(spark, d), QueryText, Embedder)
  }

  private type QFn = (SparkSession, String) => DataFrame
  private final case class Q(name: String, fn: QFn, sql: String)

  private def d184(c: Column): Column = c.cast(DecimalType(18, 4))

  private val registry: Seq[Q] = Seq(

    // ==== relational core (SURVEY §2.2–§2.5) ============================

    Q("q01_pricing_summary",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(d184(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(d184(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(d184(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(18, 4)) - d184(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          (sum(d184(col("l_quantity"))).cast("double") / count(lit(1)))
            .as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(l_quantity AS DECIMAL(18,4)))::DOUBLE AS sum_qty,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,4)))::DOUBLE AS sum_base_price,
        |  (sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))::VARCHAR)::DOUBLE AS sum_disc_price,
        |  count(*) AS count_order,
        |  sum(CAST(l_quantity AS DECIMAL(18,4)))::DOUBLE / count(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Q("q02_filter_project",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") > 0.05 && col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber").limit(100),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount > 0.05 AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin),

    Q("q03_top_orders",
      (s, dir) => Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(10),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    Q("q04_distinct_segments",
      (s, dir) => Tables.customer(s, dir)
        .select("c_mktsegment").distinct().orderBy("c_mktsegment"),
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"),

    Q("q05_revenue_by_nation",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o  = Tables.orders(s, dir)
        val c  = Tables.customer(s, dir)
        val n  = Tables.nation(s, dir)
        val r  = Tables.region(s, dir)
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(d184(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(18, 4)) - d184(col("l_discount"))))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("r_name", "n_name")
      },
      """SELECT r_name, n_name,
        |  (sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))::VARCHAR)::DOUBLE AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    Q("q06_forecast_revenue",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(d184(col("l_extendedprice")) * d184(col("l_discount")))
          .cast("double").as("revenue")),
      """SELECT (sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |           CAST(l_discount AS DECIMAL(18,4)))::VARCHAR)::DOUBLE AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin),

    Q("q07_priority_demand",
      (s, dir) => {
        val o  = Tables.orders(s, dir)
        val li = Tables.lineitem(s, dir).filter(col("l_quantity") >= 45)
          .select(col("l_orderkey").as("o_orderkey"))
        o.join(li, Seq("o_orderkey"), "left_semi")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    Q("q08_customers_no_orders",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey"))
        c.join(o, Seq("c_custkey"), "left_anti")
          .select("c_custkey", "c_name").orderBy("c_custkey").limit(100)
      },
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey LIMIT 100""".stripMargin),

    Q("q09_top2_orders_per_customer",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin),

    Q("q10_browse",
      (s, dir) => Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s"),
          col("o_orderpriority"))
        .orderBy("o_orderkey").limit(10),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s, o_orderpriority
        |FROM orders ORDER BY o_orderkey LIMIT 10""".stripMargin),

    Q("q11_events_hourly",
      (s, dir) => Tables.events(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(d184(col("value"))).cast("double").as("sum_value"))
        .orderBy("hour", "event_type"),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n_events,
        |  sum(CAST(value AS DECIMAL(18,4)))::DOUBLE AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),

    Q("q12_events_json",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type"),
      """SELECT event_type, count(*) AS n,
        |  sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ==== text pipeline scalar ops (SURVEY §2.6) ========================

    Q("q13_doc_hashes",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("content_md5"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).cast("long").as("len_chars"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, md5(text) AS content_md5,
         |  len($toksSql)::BIGINT AS n_tokens,
         |  length(text)::BIGINT AS len_chars
         |FROM documents ORDER BY doc_id""".stripMargin),

    Q("q14_lang_stats",
      (s, dir) => Tables.documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text"))).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang"),
      s"""SELECT lang, count(*) AS n_docs,
         |  sum(len($toksSql))::BIGINT AS sum_tokens,
         |  sum(n_chars)::BIGINT AS sum_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    Q("q15_quality_scores",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, $qualitySql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin),

    Q("q16_lang_id",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_id"))
        .orderBy("doc_id"),
      { // mirror TextAnalysis.langId: per-language stopword-hit ratios,
        // argmax with code-order tie-break, 'und' when all zero.
        val scoreExprs = TextAnalysis.Stopwords.map { case (lang, mk) =>
          val mkSql = mk.map(m => s"'$m'").mkString("[", ",", "]")
          s"(CASE WHEN len(toks) = 0 THEN 0.0 ELSE " +
            s"len(list_intersect(toks, $mkSql))::DOUBLE / " +
            s"len(list_distinct(toks))::DOUBLE END) AS s_$lang"
        }.mkString(", ")
        val langs = TextAnalysis.Stopwords.map(_._1)
        val bestExpr = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
        val caseArms = langs.map(l => s"WHEN s_$l = best THEN '$l'").mkString(" ")
        s"""SELECT doc_id, (CASE WHEN best <= 0.0 THEN 'und' $caseArms ELSE 'und' END) AS lang_id
           |FROM (SELECT doc_id, $bestExpr AS best, s_${langs.mkString(", s_")}
           |      FROM (SELECT doc_id, $scoreExprs
           |            FROM (SELECT doc_id, $toksSql AS toks FROM documents)))
           |ORDER BY doc_id""".stripMargin
      }),

    Q("q17_fingerprints",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      s"""SELECT doc_id,
         |  (CASE WHEN length(norm) < 8 THEN ${md5LongSql("norm")}
         |   ELSE list_min([${md5LongSql("substr(norm, i, 8)")}
         |                  for i in range(1, length(norm) - 6)]) END) AS fp
         |FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
         |      FROM documents) ORDER BY doc_id""".stripMargin),

    // ==== dedup family ===================================================

    Q("q18_exact_dedup_groups",
      (s, dir) => Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("content_hash"),
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin),

    Q("q19_minhash_signatures",
      (s, dir) => Dedup.minhashSignatures(Tables.documents(s, dir),
        "doc_id", "text").orderBy("doc_id"),
      {
        val hs = (0 until Dedup.NumHashes).map(i =>
          s"list_min([md5('$i:' || s) for s in sh]) AS h$i").mkString(",\n  ")
        s"""SELECT doc_id, $hs
           |FROM (SELECT doc_id, $shinglesSql AS sh
           |      FROM (SELECT doc_id, $toksSql AS l FROM documents))
           |ORDER BY doc_id""".stripMargin
      }),

    Q("q20_minhash_near_dup_pairs",
      (s, dir) => Dedup.minhashCandidatePairs(Tables.documents(s, dir),
        "doc_id", "text").orderBy("a", "b"),
      s"""WITH ${minhashPairCtes()}
         |SELECT a, b FROM pairs ORDER BY a, b""".stripMargin),

    Q("q21_ngram_jaccard_pairs",
      (s, dir) => Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        "doc_id", "text", 0.05).orderBy("a", "b"),
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS shingle
         |  FROM (SELECT doc_id, $toksSql AS l FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |ok AS (SELECT shingle FROM sh GROUP BY shingle
         |       HAVING count(*) <= ${Dedup.MaxGroupSize}),
         |common AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b, count(*)::DOUBLE AS n_common
         |  FROM sh l JOIN sh r ON l.shingle = r.shingle
         |  WHERE l.doc_id < r.doc_id
         |    AND l.shingle IN (SELECT shingle FROM ok)
         |  GROUP BY l.doc_id, r.doc_id)
         |SELECT a, b, jaccard FROM (
         |  SELECT a, b, round(n_common /
         |    (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
         |  FROM common
         |  JOIN sizes sa ON sa.doc_id = a
         |  JOIN sizes sb ON sb.doc_id = b)
         |WHERE jaccard >= 0.05 ORDER BY a, b""".stripMargin),

    Q("q116_minhash_estimator_error",
      // dedup-quality eval (q115's idea pointed at the dedup stack):
      // for each LSH candidate pair, the signature Jaccard ESTIMATE
      // (fraction of equal minhash components — the only similarity an
      // incremental pipeline ever sees) vs the exact shingle Jaccard,
      // plus |error|. LEFT join: a band collision without any shared
      // shingle (hash collision) scores exact = 0.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // signatures feed THREE consumers (candidate generation + both
        // sides of the estimate join) — sign the corpus once and
        // checkpoint (lazy): one materialization shared by all three,
        // blocks ContextCleaner-collected once the query finishes —
        // a persist() would pin a corpus-sized cache in the session
        // CacheManager across the driver's hundreds of queries
        val sigs = graft.operators.Ckpt(
          Dedup.minhashSignatures(docs, "doc_id", "text"), eager = false)
        val nh = Dedup.NumHashes
        val ha = sigs.toDF("a" +: (0 until nh).map(i => s"ha$i"): _*)
        val hb = sigs.toDF("b" +: (0 until nh).map(i => s"hb$i"): _*)
        val est = (0 until nh).map(i =>
            when(col(s"ha$i") === col(s"hb$i"), 1.0).otherwise(0.0))
          .reduce(_ + _) / nh.toDouble
        Dedup.minhashCandidatePairsFromSigs(sigs)
          .join(ha, "a").join(hb, "b")
          .withColumn("est", round(est, 6))
          .join(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.0)
            .withColumnRenamed("jaccard", "exact"), Seq("a", "b"), "left")
          .select(col("a"), col("b"), col("est"),
            coalesce(col("exact"), lit(0.0)).as("exact"),
            round(abs(col("est") - coalesce(col("exact"), lit(0.0))), 6)
              .as("err"))
          .orderBy("a", "b")
      },
      {
        val estSum = (0 until Dedup.NumHashes).map(i =>
          s"(CASE WHEN sa.h$i = sb.h$i THEN 1.0 ELSE 0.0 END)")
          .mkString(" + ")
        s"""WITH ${minhashPairCtes()},
           |sh2 AS (
           |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS shingle
           |  FROM (SELECT doc_id, $toksSql AS l FROM documents)),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
           |okst AS (SELECT shingle FROM sh2 GROUP BY shingle
           |         HAVING count(*) <= ${Dedup.MaxGroupSize}),
           |common AS (
           |  SELECT l.doc_id AS a, r.doc_id AS b, count(*)::DOUBLE AS n_common
           |  FROM sh2 l JOIN sh2 r ON l.shingle = r.shingle
           |  WHERE l.doc_id < r.doc_id
           |    AND l.shingle IN (SELECT shingle FROM okst)
           |  GROUP BY 1, 2),
           |exact AS (
           |  SELECT a, b, round(n_common / (sa.n_sh + sb.n_sh - n_common), 6)
           |    AS exact
           |  FROM common JOIN sizes sa ON sa.doc_id = a
           |              JOIN sizes sb ON sb.doc_id = b),
           |est AS (
           |  SELECT p.a, p.b,
           |    round(($estSum) / ${Dedup.NumHashes}.0, 6) AS est
           |  FROM pairs p JOIN sigs sa ON sa.doc_id = p.a
           |               JOIN sigs sb ON sb.doc_id = p.b)
           |SELECT e.a, e.b, e.est, coalesce(x.exact, 0.0) AS exact,
           |  round(abs(e.est - coalesce(x.exact, 0.0)), 6) AS err
           |FROM est e LEFT JOIN exact x ON e.a = x.a AND e.b = x.b
           |ORDER BY e.a, e.b""".stripMargin
      }),

    Q("q117_winnow_dup_pairs",
      // the application of q111's fingerprints: near-dup pairs = docs
      // sharing >= 2 winnowing fingerprints, via groupBy(fp) + in-group
      // combinations under the hot-key cap — never a self-join. Larger
      // (k=16, w=8) than q111's display default: over a template-heavy
      // corpus, 8-char windows make ubiquitous (hot) fingerprints.
      (s, dir) => Dedup.winnowDupPairs(Tables.documents(s, dir),
        "doc_id", "text", k = 16, w = 8, minShared = 2L)
        .orderBy("a", "b"),
      s"""WITH nm AS (SELECT doc_id,
         |  lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
         |  FROM documents),
         |hs AS (SELECT doc_id, CASE WHEN length(norm) < 16
         |    THEN [${md5LongSql("norm")}]
         |    ELSE [${md5LongSql("substr(norm, i, 16)")}
         |          for i in range(1, length(norm) - 14)] END AS h FROM nm),
         |fp AS (SELECT doc_id, CASE WHEN len(h) < 8 THEN [list_min(h)]
         |    ELSE [list_min(h[i:i+7]) for i in range(1, len(h) - 6)] END
         |    AS f FROM hs),
         |e AS (SELECT DISTINCT doc_id, fp FROM
         |      (SELECT doc_id, unnest(f) AS fp FROM fp)),
         |ok AS (SELECT fp FROM e GROUP BY fp
         |       HAVING count(*) <= ${Dedup.MaxGroupSize})
         |SELECT l.doc_id AS a, r.doc_id AS b, count(*)::BIGINT AS shared
         |FROM e l JOIN e r ON l.fp = r.fp
         |WHERE l.doc_id < r.doc_id AND l.fp IN (SELECT fp FROM ok)
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY a, b""".stripMargin),

    Q("q22_simhash",
      (s, dir) => Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      {
        val bits = (0 until Dedup.SimHashBits).map { i =>
          s"(CASE WHEN list_sum([((h >> $i) & 1) * 2 - 1 for h in hs])" +
            s" > 0 THEN ${1L << i}::BIGINT ELSE 0::BIGINT END)"
        }.mkString(" + ")
        s"""SELECT doc_id, ($bits)::BIGINT AS simhash
           |FROM (SELECT doc_id, [${md5LongSql("t")} for t in $toksSql] AS hs
           |      FROM documents) ORDER BY doc_id""".stripMargin
      }),

    Q("q23_simhash_near_dup_pairs",
      (s, dir) => Dedup.simhashCandidatePairs(Tables.documents(s, dir),
        "doc_id", "text").orderBy("a", "b"),
      {
        val bits = (0 until Dedup.SimHashBits).map { i =>
          s"(CASE WHEN list_sum([((h >> $i) & 1) * 2 - 1 for h in hs])" +
            s" > 0 THEN ${1L << i}::BIGINT ELSE 0::BIGINT END)"
        }.mkString(" + ")
        s"""WITH sigs AS (
           |  SELECT doc_id, ($bits)::BIGINT AS sim
           |  FROM (SELECT doc_id, [${md5LongSql("t")} for t in $toksSql] AS hs
           |        FROM documents)),
           |quarters AS (
           |  SELECT doc_id, q, (sim >> (q * 15)) & ${(1L << 15) - 1} AS v
           |  FROM sigs, unnest([0, 1, 2, 3]) AS t(q)),
           |ok AS (SELECT q, v FROM quarters GROUP BY q, v
           |       HAVING count(DISTINCT doc_id) <= ${Dedup.MaxGroupSize})
           |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
           |FROM quarters l JOIN quarters r ON l.q = r.q AND l.v = r.v
           |JOIN ok ON ok.q = l.q AND ok.v = l.v
           |WHERE l.doc_id < r.doc_id ORDER BY a, b""".stripMargin
      }),

    // ==== vector search family ==========================================

    Q("q24_knn_bruteforce",
      (s, dir) => VectorSearch.topK(Tables.embeddings(s, dir),
        "vec_id", "embedding", QueryVec, 10),
      s"""SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
         |FROM embeddings ORDER BY vec_score DESC, doc_id LIMIT 10""".stripMargin),

    Q("q25_knn_ann_lsh",
      (s, dir) => VectorSearch.annTopK(Tables.embeddings(s, dir),
        "vec_id", "embedding", QueryVec, 10, EmbedDim,
        nBits = 8, probeHammingRadius = 1),
      {
        val qSig = VectorSearch.querySignature(QueryVec, EmbedDim, 8)
        val probes = (0L until 256L)
          .filter(b => java.lang.Long.bitCount(b ^ qSig) <= 1)
          .mkString(", ")
        s"""SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
           |FROM embeddings
           |WHERE ${lshBucketSql()} IN ($probes)
           |ORDER BY vec_score DESC, doc_id LIMIT 10""".stripMargin
      }),

    Q("q26_embedding_near_dup",
      (s, dir) => Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", EmbedDim, 0.2).orderBy("a", "b"),
      {
        val cosAB = {
          val dot = "list_dot_product(va::DOUBLE[], vb::DOUBLE[])"
          val na  = "sqrt(list_dot_product(va::DOUBLE[], va::DOUBLE[]))"
          val nb  = "sqrt(list_dot_product(vb::DOUBLE[], vb::DOUBLE[]))"
          s"(CASE WHEN $na = 0 OR $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END)"
        }
        s"""WITH bucketed AS (
           |  SELECT vec_id AS id, embedding AS v, ${lshBucketSql()} AS bucket
           |  FROM embeddings),
           |ok AS (SELECT bucket FROM bucketed GROUP BY bucket
           |       HAVING count(*) <= ${Dedup.MaxGroupSize})
           |SELECT DISTINCT a, b, cos FROM (
           |  SELECT l.id AS a, r.id AS b, l.v AS va, r.v AS vb,
           |    round($cosAB, 6) AS cos
           |  FROM bucketed l JOIN bucketed r ON l.bucket = r.bucket
           |  WHERE l.id < r.id
           |    AND l.bucket IN (SELECT bucket FROM ok))
           |WHERE cos >= 0.2 ORDER BY a, b""".stripMargin
      }),

    // ==== retrieval (reference Q1–Q6) ====================================

    Q("q27_hybrid_search",
      (s, dir) => HybridSearch.search(Tables.documents(s, dir),
        Tables.embeddings(s, dir), QueryText, Embedder)
        .select("doc_id", "score", "lang", "source", "n_chars"),
      s"""WITH text_s AS (
         |  SELECT doc_id,
         |    round(len(list_intersect($toksSql, $qtermsSql))::DOUBLE
         |          / ${QueryTerms.length}.0, 6) AS text_score
         |  FROM documents
         |  WHERE len(list_intersect($toksSql, $qtermsSql)) > 0),
         |vec_s AS (
         |  SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
         |  FROM embeddings
         |  ORDER BY vec_score DESC, doc_id LIMIT ${HybridSearch.numCandidates(10)}),
         |fused AS (
         |  SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
         |    round(coalesce(t.text_score, 0.0) * ${dec(HybridSearch.TextBoost)}
         |        + coalesce(v.vec_score, 0.0) * ${dec(HybridSearch.VectorBoost)}, 6) AS score
         |  FROM text_s t FULL OUTER JOIN vec_s v ON t.doc_id = v.doc_id)
         |SELECT f.doc_id, f.score, d.lang, d.source, d.n_chars
         |FROM (SELECT * FROM fused WHERE score >= ${dec(HybridSearch.DefaultMinScore)}
         |      ORDER BY score DESC, doc_id LIMIT ${HybridSearch.DefaultSize}) f
         |JOIN documents d ON d.doc_id = f.doc_id
         |ORDER BY f.score DESC, f.doc_id""".stripMargin),

    Q("q28_bm25",
      (s, dir) => {
        val scored = TextSearch.bm25(Tables.documents(s, dir),
          "doc_id", "text", QueryText)
        scored.select(col("doc_id"), round(col("text_score"), 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
      },
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |posting AS (
         |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
         |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
         |       FROM posting GROUP BY doc_id, term, dl),
         |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
         |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
         |  FROM tf WHERE term IN (SELECT unnest($qtermsSql)) GROUP BY term),
         |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
         |  FROM dfreq, stats)
         |SELECT doc_id, round(sum(term_score), 6) AS bm25 FROM (
         |  SELECT tf.doc_id,
         |    idf.idf * tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS term_score
         |  FROM tf JOIN idf ON tf.term = idf.term, stats)
         |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),

    Q("q29_exact_match",
      (s, dir) => TextSearch.exactMatch(
        Tables.documents(s, dir).orderBy("doc_id"), "source", "src5")
        .select("doc_id", "lang", "source", "n_chars"),
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE source = 'src5' ORDER BY doc_id LIMIT 10000""".stripMargin),

    Q("q124_percolate",
      // ES percolator — reverse search: standing queries are the
      // broadcast "index"; each doc of the batch probes it (match with
      // operator AND). The streaming composition is foreachBatch over
      // the ingest stream.
      (s, dir) => graft.search.TextSearch.percolate(
        Tables.documents(s, dir), "doc_id", "text", PercolateQueries)
        .orderBy("doc_id", "query_id"),
      {
        val vals = PercolateQueries.flatMap { case (qid, text) =>
          val ts = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
            .distinct
          ts.map(t => s"($qid::BIGINT, '$t', ${ts.length})")
        }.mkString(", ")
        s"""WITH q(query_id, term, n_terms) AS (VALUES $vals),
           |t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS term
           |      FROM documents)
           |SELECT t.doc_id, q.query_id
           |FROM t JOIN q USING (term)
           |GROUP BY t.doc_id, q.query_id, q.n_terms
           |HAVING count(*) = q.n_terms
           |ORDER BY doc_id, query_id""".stripMargin
      }),

    Q("q125_retention_cohorts",
      // classic cohort-retention matrix over the event stream: cohort =
      // a user's first active week, offset = weeks since; weeks are
      // epoch-day div 7 (deterministic across engines — no week-start
      // convention). Two shuffles on user_id (distinct + first-week
      // join), both AQE-sized; nothing collects.
      (s, dir) => {
        // (user, week) feeds both the cohort derivation and the join —
        // materialize the distinct once (one events scan, one shuffle);
        // lazy checkpoint, not persist: same sharing, but the blocks
        // free with the query instead of pinning the CacheManager
        val uw = graft.operators.Ckpt(Tables.events(s, dir)
          .select(col("user_id"),
            expr("unix_micros(ts) div 604800000000").as("week"))
          .distinct(), eager = false)
        val cohort = uw.groupBy("user_id").agg(min("week").as("cohort_week"))
        uw.join(cohort, "user_id")
          .groupBy(col("cohort_week"),
            (col("week") - col("cohort_week")).as("offset_weeks"))
          .agg(countDistinct("user_id").as("n_users"))
          .orderBy("cohort_week", "offset_weeks")
      },
      """WITH uw AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 604800000000 AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM uw
        |      GROUP BY user_id)
        |SELECT c.cohort_week, uw.week - c.cohort_week AS offset_weeks,
        |  count(DISTINCT uw.user_id)::BIGINT AS n_users
        |FROM uw JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, offset_weeks""".stripMargin),

    Q("q126_item_lift",
      // market-basket association rules over the event stream (basket =
      // user, item = the payload key): support/confidence/lift per
      // co-occurring pair. Pair generation is the repo's one pattern —
      // groupBy(basket) + in-group combinations under the hot-key cap,
      // never a self-join; marginals broadcast at item-vocabulary scale.
      (s, dir) => graft.operators.Association.itemPairLift(
        Tables.events(s, dir)
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item")),
        "user_id", "item", minPairs = 2L)
        .orderBy(col("lift").desc, col("a").asc, col("b").asc).limit(50),
      s"""WITH bi AS (SELECT DISTINCT user_id AS basket,
         |  json_extract_string(props, '$$.k')::BIGINT AS item FROM events),
         |n AS (SELECT count(DISTINCT basket)::BIGINT AS n_baskets FROM bi),
         |ic AS (SELECT item, count(*)::BIGINT AS n_item FROM bi GROUP BY item),
         |ok AS (SELECT basket FROM bi GROUP BY basket
         |       HAVING count(*) <= 10000),
         |p AS (SELECT l.item AS a, r.item AS b, count(*)::BIGINT AS n_ab
         |      FROM bi l JOIN bi r ON l.basket = r.basket AND l.item < r.item
         |      WHERE l.basket IN (SELECT basket FROM ok)
         |      GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT a, b, n_ab,
         |  round(n_ab / n.n_baskets, 6) AS support,
         |  round(n_ab / ia.n_item, 6) AS conf_a_b,
         |  round(n_ab / ib.n_item, 6) AS conf_b_a,
         |  round(n_ab * n.n_baskets / (ia.n_item * ib.n_item), 6) AS lift
         |FROM p JOIN ic ia ON ia.item = p.a JOIN ic ib ON ib.item = p.b, n
         |ORDER BY lift DESC, a, b LIMIT 50""".stripMargin),

    // ==== path/category scalar ops (reference F5/F8/F9/F13) =============

    Q("q30_category_paths",
      (s, dir) => {
        val p = concat(lit("docs\\uploaded\\"), col("source"), lit("\\"),
          col("lang"), lit("\\doc_"), col("doc_id"), lit(".pdf"))
        Tables.documents(s, dir)
          .filter(col("source").startsWith("src1"))
          .select(col("doc_id"),
            TextFunctions.normalizePath(p).as("path"),
            TextFunctions.categoryLevel(p, 1).as("lv1_cat"),
            TextFunctions.categoryLevel(p, 2).as("lv2_cat"),
            TextFunctions.categoryLevel(p, 3).as("lv3_cat"),
            TextFunctions.pathStem(p).as("stem"),
            md5(TextFunctions.normalizePath(p)).as("hashed_filepath"))
          .orderBy("doc_id")
      },
      { // NB: backslash via interpolation — a literal `\u` inside a
        // triple-quoted Scala string is parsed as a unicode escape.
        val bs = "\\"
        s"""SELECT doc_id, path,
           |  coalesce(string_split(path, '/')[2], '') AS lv1_cat,
           |  coalesce(string_split(path, '/')[3], '') AS lv2_cat,
           |  coalesce(string_split(path, '/')[4], '') AS lv3_cat,
           |  regexp_extract(path, '([^/]+?)($bs.[^./]*)?$$', 1) AS stem,
           |  md5(path) AS hashed_filepath
           |FROM (SELECT doc_id, replace('docs${bs}uploaded$bs' || source || '$bs' || lang
           |        || '${bs}doc_' || doc_id || '.pdf', '$bs', '/') AS path
           |      FROM documents WHERE source LIKE 'src1%')
           |ORDER BY doc_id""".stripMargin
      })
    ,

    // ==== ingest pipeline (reference E1, deterministic slice) ============

    Q("q31_ingest_enrich",
      (s, dir) => {
        import graft.ingest.{Ingest, TextPageExtractor}
        val files = Tables.documents(s, dir).select(
          concat(lit("/ing/"), col("source"), lit("/"), col("lang"),
            lit("/doc_"), col("doc_id"), lit(".txt")).as("path"),
          col("text").cast("binary").as("content"))
        Ingest.enrich(Ingest.explodePages(files, TextPageExtractor()), "/ing")
          .select("filepath", "filename", "page", "lv1_cat", "lv2_cat",
            "lv3_cat", "status", "hashed_filepath", "hashed_page_content")
          .orderBy("filepath", "page")
      },
      """SELECT path AS filepath,
        |  'doc_' || doc_id || '.txt' AS filename, 1 AS page,
        |  source AS lv1_cat, lang AS lv2_cat, '' AS lv3_cat,
        |  'success' AS status, md5(path) AS hashed_filepath,
        |  md5('This page explains doc_' || doc_id || ' that belongs to '
        |      || source || ',' || lang || ' categories.' || chr(10) || text)
        |    AS hashed_page_content
        |FROM (SELECT *, '/ing/' || source || '/' || lang || '/doc_'
        |        || doc_id || '.txt' AS path FROM documents)
        |ORDER BY filepath, page""".stripMargin),

    // ==== multimodal (stub decode is md5-derived → fully oracle-checked:
    // meta from md5/length of the bytes, features pinned via the integer
    // histogram digest — float formatting is engine-specific, counts are
    // not) ===

    Q("q32_media_meta",
      (s, dir) => {
        import graft.multimodal.Multimodal
        val media = Tables.documents(s, dir).select(col("doc_id"),
          lit("text/plain").as("mime"), col("text").cast("binary").as("media"))
        Multimodal.withMediaFeatures(
          Multimodal.withDecodedMeta(media, "media", "mime"), "media")
          .select(col("doc_id"),
            col("meta.width").as("width"), col("meta.height").as("height"),
            col("meta.n_frames").as("n_frames"),
            col("meta.duration_ms").as("duration_ms"),
            col("media_features_sig"))
          .orderBy("doc_id")
      },
      s"""SELECT doc_id,
         |  (CASE WHEN length(text) = 0 THEN NULL
         |   ELSE 16 + (h % 4080) END)::INT AS width,
         |  (CASE WHEN length(text) = 0 THEN NULL
         |   ELSE 16 + ((h // 128) % 2160) END)::INT AS height,
         |  (CASE WHEN length(text) = 0 THEN NULL
         |   ELSE 1 + (length(text) % 240) END)::INT AS n_frames,
         |  (CASE WHEN length(text) = 0 THEN NULL
         |   ELSE length(text) * 2 END)::BIGINT AS duration_ms,
         |  md5(array_to_string(
         |    [len(list_filter(cs, c -> c = i)) for i in range(0, 64)], ','))
         |    AS media_features_sig
         |FROM (SELECT doc_id, text, ${md5LongSql("text")} AS h,
         |        [unicode(substr(text, i, 1)) % 64
         |         for i in range(1, length(text) + 1)] AS cs
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin),

    // ==== event-stream analytics =========================================

    Q("q33_event_gaps",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("gap_s",
            (unix_timestamp(date_trunc("second", col("ts"))) -
              unix_timestamp(date_trunc("second", col("prev_ts"))))
              .cast("long"))
          .select("user_id", "event_id", "gap_s")
          .orderBy("user_id", "event_id").limit(5000)
      },
      """SELECT user_id, event_id,
        |  date_diff('second',
        |    date_trunc('second',
        |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)),
        |    date_trunc('second', ts))::BIGINT AS gap_s
        |FROM events ORDER BY user_id, event_id LIMIT 5000""".stripMargin),

    Q("q34_brand_revenue",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val p  = Tables.part(s, dir)
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .groupBy("p_brand")
          .agg(sum(d184(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(18, 4)) - d184(col("l_discount"))))
            .cast("double").as("revenue"),
            sum(d184(col("l_quantity"))).cast("double").as("sum_qty"),
            count(lit(1)).as("n_items"))
          .orderBy("p_brand")
      },
      """SELECT p_brand,
        |  (sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))::VARCHAR)::DOUBLE AS revenue,
        |  sum(CAST(l_quantity AS DECIMAL(18,4)))::DOUBLE AS sum_qty,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
  )

  // ---- persisted-index queries (reference E2 → Q1/Q2/Q3 on the index) ---

  /** One-time builds (indexes, model fits, cluster state), one per key
    * per JVM — build once, query many. A lazy cell per key runs the
    * build outside the map's lock, so it may call [[once]] itself. */
  private final class Once(build: () => AnyRef) { lazy val value = build() }
  private val prepared = new java.util.concurrent.ConcurrentHashMap[String, Once]()
  private def once[T <: AnyRef](key: String)(build: => T): T =
    prepared.computeIfAbsent(key, _ => new Once(() => build)).value.asInstanceOf[T]

  /** Build any one-time infrastructure (search index, fitted IDF model)
    * ahead of query timing — the bench warm-up calls this so indexed /
    * model queries measure query latency, not the build/fit. */
  def prepare(s: SparkSession, dir: String): Unit = {
    indexFor(s, dir); ivfFor(s, dir); pqFor(s, dir); ivfpqFor(s, dir)
    mlFitted(s, dir); mlFittedMd5(s, dir)
    bucketedFor(s, dir); deletedIndexFor(s, dir); clusterStateFor(s, dir)
    ()
  }

  /** Pre-existing corpus cluster state for q172 (labels + persisted
    * minhash band index over the 80% "old" corpus) — INFRASTRUCTURE
    * like a search index: in production it exists before any batch
    * arrives, so the bench warms it here and q172 measures the
    * incremental maintenance cost, not the one-time corpus build. */
  private def clusterStateFor(s: SparkSession, d: String): (String, String) =
    once("cluster_state|" + d) {
      val docs = Tables.documents(s, d)
      val old  = docs.filter(col("doc_id") % 5 =!= 0)
      val lbl = java.nio.file.Files
        .createTempDirectory("graft_cc_labels_").toString
      LocalFs.write(Dedup.nearDupClusters(old, "doc_id",
          Dedup.minhashCandidatePairs(old, "doc_id", "text")))
        .mode("overwrite").parquet(lbl)
      val idx = java.nio.file.Files
        .createTempDirectory("graft_cc_bands_").toString
      LocalFs.write(Dedup.minhashBandIndex(old, "doc_id", "text"))
        .mode("overwrite").parquet(idx)
      (lbl, idx)
    }

  private def indexFor(s: SparkSession, d: String): String =
    once("index|" + d) {
      val out = java.nio.file.Files.createTempDirectory("graft_index_").toString
      graft.index.SearchIndex.build(Tables.documents(s, d),
        Tables.embeddings(s, d), out)
      out
    }

  private def ivfFor(s: SparkSession, d: String): String =
    once("ivf|" + d) {
      val out = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
      graft.index.IvfIndex.build(Tables.embeddings(s, d), out, nCells = 8)
      out
    }

  private def pqFor(s: SparkSession, d: String): String =
    once("pq|" + d) {
      val out = java.nio.file.Files.createTempDirectory("graft_pq_").toString
      graft.index.PqIndex.build(Tables.embeddings(s, d), out,
        m = 8, nCodes = 16)
      out
    }

  private def ivfpqFor(s: SparkSession, d: String): String =
    once("ivfpq|" + d) {
      val out = java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString
      graft.index.IvfPqIndex.build(Tables.embeddings(s, d), out,
        nCells = 8, m = 8, nCodes = 16)
      out
    }

  /** Index that had a doc-level retraction applied (q92): built over the
    * full corpus, then `doc_id % 37 == 0` deleted through
    * [[graft.index.SearchIndex.bulkDelete]] — queries must behave as if
    * those docs were never indexed (the oracle scores a corpus that
    * excludes them). */
  private def deletedIndexFor(s: SparkSession, d: String): String =
    once("index_del|" + d) {
      val out = java.nio.file.Files.createTempDirectory("graft_index_del_").toString
      // index files are immutable once written: a file-level copy of the
      // shared index is the cheap way to a second instance (no second
      // build pass over the corpus in warm-up)
      val src = java.nio.file.Paths.get(indexFor(s, d))
      val dst = java.nio.file.Paths.get(out)
      val walk = java.nio.file.Files.walk(src)
      try walk.forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      } finally walk.close()
      // relation-driven bulk retraction: the victim set stays a
      // DataFrame end to end (semi/anti joins inside bulkDelete) — no
      // driver-side id list, so the same registration shape holds when
      // the victim predicate matches 10^6 docs
      graft.index.SearchIndex.bulkDelete(s, out,
        Tables.documents(s, d)
          .filter(col("doc_id") % 37 === 0)
          .select("doc_id"))
      out
    }

  private val indexedRegistry: Seq[Q] = Seq(
    Q("q46_ivf_knn",
      // full probe (nProbe = nCells) is exactly brute force — same oracle
      // as q24; tighter probes are the production recall/latency knob
      (s, dir) => graft.index.IvfIndex.knn(s, ivfFor(s, dir), QueryVec,
        10, nProbe = 8),
      s"""SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
         |FROM embeddings ORDER BY vec_score DESC, doc_id LIMIT 10""".stripMargin),

    Q("q35_indexed_bm25",
      (s, dir) => graft.index.SearchIndex.bm25(s, indexFor(s, dir), QueryText)
        .select(col("doc_id"), round(col("text_score"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(20),
      null), // oracle assigned below: identical to q28's

    Q("q36_indexed_knn",
      // pruned probe: Hamming radius 2 over the 8-bit LSH signature reads
      // 37 of 256 bucket dirs (partition pruning) — the production knob,
      // not the exact-but-exhaustive full-radius probe
      (s, dir) => graft.index.SearchIndex.knn(s, indexFor(s, dir), QueryVec,
        10, EmbedDim, probeHammingRadius = 2),
      {
        val qSig = VectorSearch.querySignature(QueryVec, EmbedDim, 8)
        val probes = (0L until 256L)
          .filter(b => java.lang.Long.bitCount(b ^ qSig) <= 2)
          .mkString(", ")
        s"""SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
           |FROM embeddings
           |WHERE ${lshBucketSql()} IN ($probes)
           |ORDER BY vec_score DESC, doc_id LIMIT 10""".stripMargin
      }),

    Q("q37_indexed_hybrid",
      (s, dir) => graft.index.SearchIndex.hybrid(s, indexFor(s, dir),
        QueryText, Embedder, probeHammingRadius = 2),
      {
        val qSig = VectorSearch.querySignature(QueryVec, EmbedDim, 8)
        val probes = (0L until 256L)
          .filter(b => java.lang.Long.bitCount(b ^ qSig) <= 2)
          .mkString(", ")
        s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
           |posting AS (
           |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
           |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
           |       FROM posting GROUP BY doc_id, term, dl),
           |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
           |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
           |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
           |  FROM tf WHERE term IN (SELECT unnest($qtermsSql)) GROUP BY term),
           |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
           |  FROM dfreq, stats),
           |text_s AS (
           |  SELECT doc_id, sum(term_score) AS text_score FROM (
           |    SELECT tf.doc_id,
           |      idf.idf * tf.tf * (1.2 + 1.0) /
           |        (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS term_score
           |    FROM tf JOIN idf ON tf.term = idf.term, stats)
           |  GROUP BY doc_id),
           |vec_s AS (
           |  SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
           |  FROM embeddings
           |  WHERE ${lshBucketSql()} IN ($probes)
           |  ORDER BY vec_score DESC, doc_id LIMIT ${HybridSearch.numCandidates(10)}),
           |fused AS (
           |  SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
           |    round(coalesce(t.text_score, 0.0) * 1.0
           |        + coalesce(v.vec_score, 0.0) * 0.8, 6) AS score
           |  FROM text_s t FULL OUTER JOIN vec_s v ON t.doc_id = v.doc_id)
           |SELECT doc_id, score FROM fused WHERE score >= 0.5
           |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
      }),

    Q("q82_ivf_sq8_knn",
      // full probe + the same frozen codebook ⇒ identical semantics to
      // the corpus-scan quantized path (oracle assigned below: q66's)
      (s, dir) => graft.index.IvfIndex.knnQuantized(s, ivfFor(s, dir),
        QueryVec, 10, nProbe = 8, numCandidates = 50),
      null),

    Q("q80_indexed_phrase",
      // persisted positional postings, term-bucket-pruned probe — same
      // semantics as the q67 scan path (oracle assigned below: q67's)
      (s, dir) => graft.index.SearchIndex.phrase(s, indexFor(s, dir),
        PhraseQuery)
        .select(col("doc_id"),
          col("n_occurrences").cast("long").as("n_occurrences"))
        .orderBy("doc_id"),
      null),

    // ==== batch multi-query search (pipeline-scale serving) ============

    Q("q88_batch_bm25",
      // N queries, ONE partition-pruned postings probe, one shuffle,
      // per-query top-k via the k-bounded TopKByScoreAgg (no per-query
      // window sort). SearchIndexSpec pins batch ≡ N single searches.
      (s, dir) => graft.index.SearchIndex.bm25Batch(s, indexFor(s, dir),
        BatchQueries, 10)
        .orderBy("query_id", "rank"),
      {
        val qtRows = BatchQueries.flatMap { case (qid, text) =>
          text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct
            .map(t => s"($qid, '$t')")
        }.mkString(", ")
        s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
           |posting AS (
           |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
           |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
           |       FROM posting GROUP BY doc_id, term, dl),
           |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
           |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
           |qt AS (SELECT * FROM (VALUES $qtRows) AS t(query_id, term)),
           |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
           |  FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
           |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
           |  FROM dfreq, stats),
           |scored AS (
           |  SELECT qt.query_id, tf.doc_id, round(sum(
           |    idf.idf * tf.tf * (1.2 + 1.0) /
           |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6)
           |    AS text_score
           |  FROM tf JOIN idf ON tf.term = idf.term
           |       JOIN qt ON qt.term = tf.term, stats
           |  GROUP BY qt.query_id, tf.doc_id),
           |ranked AS (SELECT query_id, doc_id, text_score,
           |  row_number() OVER (PARTITION BY query_id
           |    ORDER BY text_score DESC, doc_id) AS rank
           |  FROM scored)
           |SELECT query_id::BIGINT AS query_id, doc_id, text_score,
           |  rank::BIGINT AS rank
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
      }),

    Q("q89_batch_knn",
      // N query vectors, one partition-pruned probe over the union of
      // the queries' Hamming balls, per-query top-k via the bounded agg
      (s, dir) => graft.index.SearchIndex.knnBatch(s, indexFor(s, dir),
        BatchQueries.map { case (qid, t) => qid -> Embedder.embed(t) },
        10, EmbedDim)
        .orderBy("query_id", "rank"),
      {
        val branches = BatchQueries.map { case (qid, t) =>
          val qv   = Embedder.embed(t)
          val qSig = VectorSearch.querySignature(qv, EmbedDim, 8)
          val probes = (0L until 256L)
            .filter(b => java.lang.Long.bitCount(b ^ qSig) <= 1)
            .mkString(", ")
          s"""SELECT $qid::BIGINT AS query_id, vec_id AS doc_id,
             |    round(${cosSqlFor(qv)}, 6) AS vec_score
             |  FROM embeddings WHERE ${lshBucketSql()} IN ($probes)""".stripMargin
        }.mkString("\n  UNION ALL\n")
        s"""WITH cands AS (
           |$branches),
           |ranked AS (SELECT query_id, doc_id, vec_score,
           |  row_number() OVER (PARTITION BY query_id
           |    ORDER BY vec_score DESC, doc_id) AS rank
           |  FROM cands)
           |SELECT query_id, doc_id, vec_score, rank::BIGINT AS rank
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
      }),

    Q("q92_index_doc_delete",
      // PII/takedown flow: the persisted index after SearchIndex.bulkDelete
      // must score exactly like an index that never held the victims —
      // the oracle computes BM25 over the corpus MINUS the deleted docs
      (s, dir) => graft.index.SearchIndex.bm25(s, deletedIndexFor(s, dir),
        QueryText)
        .select(col("doc_id"), round(col("text_score"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(20),
      s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0),
         |toks AS (SELECT doc_id, $toksSql AS l FROM docs),
         |posting AS (
         |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
         |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
         |       FROM posting GROUP BY doc_id, term, dl),
         |stats AS (SELECT (SELECT count(*) FROM docs)::DOUBLE AS n,
         |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
         |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
         |  FROM tf WHERE term IN (SELECT unnest($qtermsSql)) GROUP BY term),
         |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
         |  FROM dfreq, stats)
         |SELECT doc_id, round(sum(term_score), 6) AS bm25 FROM (
         |  SELECT tf.doc_id,
         |    idf.idf * tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS term_score
         |  FROM tf JOIN idf ON tf.term = idf.term, stats)
         |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),

    Q("q91_batch_hybrid",
      // the full production serving shape: N queries, BOTH index legs in
      // one pass each (raw text scores like single-query hybrid, top-100
      // vector candidates per query), full-outer fuse on (query_id,
      // doc_id), boosts 1.0/0.8, min_score 0.5, per-query top-10 via the
      // k-bounded agg. Composes q88's and q89's oracle algebra.
      (s, dir) => graft.index.SearchIndex.hybridBatch(s, indexFor(s, dir),
        BatchQueries, Embedder, 10)
        .orderBy("query_id", "rank"),
      {
        val qtRows = BatchQueries.flatMap { case (qid, text) =>
          text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct
            .map(t => s"($qid, '$t')")
        }.mkString(", ")
        val vecBranches = BatchQueries.map { case (qid, t) =>
          val qv   = Embedder.embed(t)
          val qSig = VectorSearch.querySignature(qv, EmbedDim, 8)
          val probes = (0L until 256L)
            .filter(b => java.lang.Long.bitCount(b ^ qSig) <= 2)
            .mkString(", ")
          s"""SELECT $qid::BIGINT AS query_id, vec_id AS doc_id,
             |    round(${cosSqlFor(qv)}, 6) AS vec_score
             |  FROM embeddings WHERE ${lshBucketSql()} IN ($probes)""".stripMargin
        }.mkString("\n  UNION ALL\n")
        s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
           |posting AS (
           |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
           |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
           |       FROM posting GROUP BY doc_id, term, dl),
           |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
           |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
           |qt AS (SELECT * FROM (VALUES $qtRows) AS t(query_id, term)),
           |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
           |  FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
           |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
           |  FROM dfreq, stats),
           |text_s AS (
           |  SELECT qt.query_id::BIGINT AS query_id, tf.doc_id, sum(
           |    idf.idf * tf.tf * (1.2 + 1.0) /
           |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)))
           |    AS text_score
           |  FROM tf JOIN idf ON tf.term = idf.term
           |       JOIN qt ON qt.term = tf.term, stats
           |  GROUP BY qt.query_id, tf.doc_id),
           |cands AS (
           |$vecBranches),
           |vec_rk AS (SELECT query_id, doc_id, vec_score,
           |  row_number() OVER (PARTITION BY query_id
           |    ORDER BY vec_score DESC, doc_id) AS rk
           |  FROM cands),
           |vec_s AS (SELECT query_id, doc_id, vec_score
           |  FROM vec_rk WHERE rk <= 100),
           |fused AS (
           |  SELECT coalesce(t.query_id, v.query_id) AS query_id,
           |    coalesce(t.doc_id, v.doc_id) AS doc_id,
           |    round(coalesce(t.text_score, 0.0) * 1.0
           |        + coalesce(v.vec_score, 0.0) * 0.8, 6) AS score
           |  FROM text_s t FULL OUTER JOIN vec_s v
           |    ON t.query_id = v.query_id AND t.doc_id = v.doc_id),
           |ranked AS (SELECT query_id, doc_id, score,
           |  row_number() OVER (PARTITION BY query_id
           |    ORDER BY score DESC, doc_id) AS rank
           |  FROM fused WHERE score >= 0.5)
           |SELECT query_id, doc_id, score, rank::BIGINT AS rank
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
      }),

    Q("q93_ivf_batch_knn",
      // N query vectors, one partition-pruned pass over the IVF cells,
      // per-query top-k via the bounded agg. Full probe (nProbe = all 8
      // cells) ⇒ the oracle is per-query brute-force cosine top-k.
      (s, dir) => graft.index.IvfIndex.knnBatch(s, ivfFor(s, dir),
        BatchQueries.map { case (qid, t) => qid -> Embedder.embed(t) },
        10, nProbe = 8)
        .orderBy("query_id", "rank"),
      {
        val branches = BatchQueries.map { case (qid, t) =>
          val qv = Embedder.embed(t)
          s"""SELECT $qid::BIGINT AS query_id, vec_id AS doc_id,
             |    round(${cosSqlFor(qv)}, 6) AS vec_score
             |  FROM embeddings""".stripMargin
        }.mkString("\n  UNION ALL\n")
        s"""WITH cands AS (
           |$branches),
           |ranked AS (SELECT query_id, doc_id, vec_score,
           |  row_number() OVER (PARTITION BY query_id
           |    ORDER BY vec_score DESC, doc_id) AS rank
           |  FROM cands)
           |SELECT query_id, doc_id, vec_score, rank::BIGINT AS rank
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
      }),

    Q("q94_rerank_chain",
      // the full serving chain LLM retrieval actually runs: hybrid
      // retrieve top-50 from the index (partition-pruned), then RERANK
      // the candidate set with a second, finer scorer — here a
      // deterministic token-set jaccard standing in the cross-encoder
      // slot (the model call is a per-candidate scalar; the CHAIN shape
      // — cheap wide retrieve, expensive narrow rerank — is the point).
      // Rerank cost is 50 rows, never the corpus.
      (s, dir) => {
        val cands = graft.index.SearchIndex.hybrid(s, indexFor(s, dir),
          QueryText, Embedder, size = 50, probeHammingRadius = 2)
        val qlit = lit(QueryTerms)
        val toks = array_distinct(TextFunctions.tokens(col("text")))
        Tables.documents(s, dir).join(cands, "doc_id")
          .select(col("doc_id"),
            round(size(array_intersect(toks, qlit)).cast("double") /
              size(array_union(toks, qlit)).cast("double"), 6).as("rerank"),
            col("score"))
          .orderBy(col("rerank").desc, col("score").desc, col("doc_id"))
          .limit(10)
      },
      {
        val qSig = VectorSearch.querySignature(QueryVec, EmbedDim, 8)
        val probes = (0L until 256L)
          .filter(b => java.lang.Long.bitCount(b ^ qSig) <= 2)
          .mkString(", ")
        s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
           |posting AS (
           |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
           |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
           |       FROM posting GROUP BY doc_id, term, dl),
           |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
           |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
           |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
           |  FROM tf WHERE term IN (SELECT unnest($qtermsSql)) GROUP BY term),
           |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
           |  FROM dfreq, stats),
           |text_s AS (
           |  SELECT doc_id, sum(term_score) AS text_score FROM (
           |    SELECT tf.doc_id,
           |      idf.idf * tf.tf * (1.2 + 1.0) /
           |        (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS term_score
           |    FROM tf JOIN idf ON tf.term = idf.term, stats)
           |  GROUP BY doc_id),
           |vec_s AS (
           |  SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
           |  FROM embeddings
           |  WHERE ${lshBucketSql()} IN ($probes)
           |  ORDER BY vec_score DESC, doc_id LIMIT ${HybridSearch.numCandidates(50)}),
           |fused AS (
           |  SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
           |    round(coalesce(t.text_score, 0.0) * 1.0
           |        + coalesce(v.vec_score, 0.0) * 0.8, 6) AS score
           |  FROM text_s t FULL OUTER JOIN vec_s v ON t.doc_id = v.doc_id),
           |top50 AS (SELECT doc_id, score FROM fused WHERE score >= 0.5
           |          ORDER BY score DESC, doc_id LIMIT 50),
           |rr AS (
           |  SELECT t.doc_id,
           |    round(len(list_distinct(list_intersect(k.l, $qtermsSql)))::DOUBLE /
           |          len(list_distinct(k.l || $qtermsSql))::DOUBLE, 6) AS rerank,
           |    t.score
           |  FROM top50 t JOIN toks k ON k.doc_id = t.doc_id)
           |SELECT doc_id, rerank, score FROM rr
           |ORDER BY rerank DESC, score DESC, doc_id LIMIT 10""".stripMargin
      }),

    Q("q122_shuffle_shards",
      // deterministic global shuffle + shard assignment — the last step
      // before writing training shards. Shard = salted md5 mod n (no
      // coordination, engine-reproducible; a new salt = a new epoch
      // ordering); pos = write order within the shard. The only sort is
      // per-shard (corpus/n rows — the sortWithinPartitions a sharded
      // write performs anyway), never global.
      (s, dir) => graft.pipeline.Sampling.shuffleShards(
        Tables.documents(s, dir), "doc_id", nShards = 8)
        .orderBy("shard", "pos"),
      s"""WITH k AS (SELECT doc_id,
         |  ${md5LongSql("'shuf:' || doc_id::VARCHAR")} AS skey
         |  FROM documents)
         |SELECT skey % 8 AS shard, doc_id,
         |  row_number() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id)
         |    ::BIGINT AS pos
         |FROM k ORDER BY shard, pos""".stripMargin),

    Q("q95_sequence_packing",
      // training-batch sequence packing: concatenate documents in a
      // deterministic order and cut fixed token-budget sequences — the
      // GPT-style packing pass, computed WITHOUT materializing the
      // concatenation: a doc's sequence id is floor(preceding-tokens /
      // budget). Streams are (lang, shard) with shard = md5(doc_id) % 8,
      // so the per-stream window is bounded by design at 100 TB (packing
      // order is inherently per-stream sequential; the shard count is
      // the parallelism knob).
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val budget = 512.0
        val ntok = size(TextFunctions.tokens(col("text")))
        val shard =
          (TextFunctions.md5Long(col("doc_id").cast("string")) % 8).cast("int")
        val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
        Tables.documents(s, dir)
          .select(col("lang"), shard.as("shard"), col("doc_id"),
            ntok.cast("long").as("n_tok"))
          .withColumn("cum", sum("n_tok").over(w))
          .withColumn("seq_id",
            floor((col("cum") - col("n_tok")).cast("double") / budget)
              .cast("long"))
          .groupBy("lang", "shard", "seq_id")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum("n_tok").cast("long").as("n_tokens"))
          .orderBy("lang", "shard", "seq_id")
      },
      s"""WITH d AS (
         |  SELECT lang,
         |    ${md5LongSql("doc_id::VARCHAR")} % 8 AS shard,
         |    doc_id, len($toksSql)::BIGINT AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT lang, shard, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS cum
         |  FROM d)
         |SELECT lang, shard::INT AS shard,
         |  floor((cum - n_tok)::DOUBLE / 512.0)::BIGINT AS seq_id,
         |  count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens
         |FROM c GROUP BY lang, shard, seq_id
         |ORDER BY lang, shard, seq_id""".stripMargin),

    Q("q96_substring_dup_spans",
      // exact substring dedup: maximal per-doc spans of 8-token windows
      // that occur verbatim in more than one document — the curation
      // stage that CUTS duplicated passages rather than dropping docs.
      // No pair generation anywhere: dup-ness is min(doc) != max(doc)
      // per window hash (partial-agg friendly), then a semi-join back.
      (s, dir) => Dedup.substringDupSpans(
          Tables.documents(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc", "span_start"),
      s"""WITH t AS (SELECT doc_id, $toksSql AS l FROM documents),
         |w AS (
         |  SELECT doc_id AS doc, pos,
         |    md5(array_to_string(l[pos:pos+7], ' ')) AS h
         |  FROM (SELECT doc_id, l,
         |          unnest(range(1, greatest(len(l) - 6, 1))) AS pos
         |        FROM t)),
         |d AS (SELECT h FROM w GROUP BY h HAVING min(doc) <> max(doc)),
         |dw AS (SELECT doc, pos FROM w WHERE h IN (SELECT h FROM d)),
         |g AS (SELECT doc, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc ORDER BY pos) = 1
         |         THEN 0 ELSE 1 END AS gap
         |  FROM dw),
         |i AS (SELECT doc, pos,
         |    sum(gap) OVER (PARTITION BY doc ORDER BY pos) AS island
         |  FROM g)
         |SELECT doc, min(pos)::BIGINT AS span_start,
         |  (max(pos) + 7)::BIGINT AS span_end,
         |  count(*)::BIGINT AS n_windows
         |FROM i GROUP BY doc, island
         |ORDER BY doc, span_start""".stripMargin),

    Q("q100_cut_dup_spans",
      // the APPLY side of q96: rewrite every document with its
      // cross-doc-duplicated token spans cut out — detect AND act, the
      // full curation flow. Spans can overlap (islands closer than k
      // tokens), so membership is a boolean exists, never a join fanout.
      (s, dir) => Dedup.cutDupSpans(
          Tables.documents(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc"),
      s"""WITH t AS (SELECT doc_id, $toksSql AS l FROM documents),
         |w AS (
         |  SELECT doc_id AS doc, pos,
         |    md5(array_to_string(l[pos:pos+7], ' ')) AS h
         |  FROM (SELECT doc_id, l,
         |          unnest(range(1, greatest(len(l) - 6, 1))) AS pos
         |        FROM t)),
         |d AS (SELECT h FROM w GROUP BY h HAVING min(doc) <> max(doc)),
         |dw AS (SELECT doc, pos FROM w WHERE h IN (SELECT h FROM d)),
         |g AS (SELECT doc, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc ORDER BY pos) = 1
         |         THEN 0 ELSE 1 END AS gap
         |  FROM dw),
         |isl AS (SELECT doc, pos,
         |    sum(gap) OVER (PARTITION BY doc ORDER BY pos) AS island
         |  FROM g),
         |spans AS (SELECT doc, min(pos) AS s, max(pos) + 7 AS e
         |  FROM isl GROUP BY doc, island),
         |toks2 AS (SELECT doc_id, pos, l[pos] AS tok
         |  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS pos
         |        FROM t)),
         |cut AS (SELECT DISTINCT tk.doc_id, tk.pos
         |  FROM toks2 tk JOIN spans s
         |    ON tk.doc_id = s.doc AND tk.pos BETWEEN s.s AND s.e),
         |kept AS (SELECT tk.doc_id, tk.pos, tk.tok
         |  FROM toks2 tk ANTI JOIN cut c
         |    ON tk.doc_id = c.doc_id AND tk.pos = c.pos),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos)
         |    AS clean_text FROM kept GROUP BY doc_id),
         |cutn AS (SELECT doc_id, count(*)::BIGINT AS n
         |  FROM cut GROUP BY doc_id)
         |SELECT t.doc_id AS doc, coalesce(agg.clean_text, '') AS clean_text,
         |  coalesce(cutn.n, 0)::BIGINT AS n_tokens_cut
         |FROM t LEFT JOIN agg USING (doc_id) LEFT JOIN cutn USING (doc_id)
         |ORDER BY doc""".stripMargin),

    Q("q101_source_boilerplate",
      // C4/RefinedWeb-style per-domain boilerplate detection: 5-token
      // shingles appearing in >= 8% of a source's documents (nav bars,
      // footers, license blurbs). Per-doc DISTINCT before counting so a
      // shingle repeated inside one doc counts once; the source dim
      // (20 rows) broadcasts onto the aggregate.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val sh = docs.select(col("source"), col("doc_id"),
          explode(TextFunctions.shingles(
            TextFunctions.tokens(col("text")), 5)).as("shingle"))
          .distinct()
        val src = docs.groupBy("source")
          .agg(countDistinct("doc_id").as("nd"))
        sh.groupBy("source", "shingle")
          .agg(count(lit(1)).cast("long").as("n_docs"))
          .join(src, "source")
          .filter(col("n_docs").cast("double") / col("nd") >= 0.08)
          .select(col("source"), col("shingle"), col("n_docs"),
            round(col("n_docs").cast("double") / col("nd"), 6).as("frac"))
          .orderBy("source", "shingle")
      },
      s"""WITH t AS (SELECT source, doc_id, $toksSql AS l FROM documents),
         |sh AS (SELECT DISTINCT source, doc_id, shingle FROM (
         |  SELECT source, doc_id,
         |    unnest([array_to_string(l[i:i+4], ' ')
         |            for i in range(1, greatest(len(l) - 3, 1))]) AS shingle
         |  FROM t)),
         |src AS (SELECT source, count(DISTINCT doc_id) AS nd
         |  FROM documents GROUP BY source),
         |bp AS (SELECT source, shingle, count(*)::BIGINT AS n_docs
         |  FROM sh GROUP BY source, shingle)
         |SELECT bp.source, shingle, n_docs,
         |  round(n_docs::DOUBLE / src.nd, 6) AS frac
         |FROM bp JOIN src USING (source)
         |WHERE n_docs::DOUBLE / src.nd >= 0.08
         |ORDER BY source, shingle""".stripMargin),

    Q("q102_unigram_logprob",
      // perplexity-proxy quality score: train a corpus unigram LM (one
      // token-count groupBy — the LM *is* aggregate state), score every
      // doc by its mean token log-probability. The standard cheap
      // LM-based quality filter (low avg logprob = gibberish / rare-
      // token soup). Self-contained: both engines fit the same LM from
      // the same corpus, so the oracle needs no external model state.
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(TextFunctions.tokens(col("text"))).as("term"))
        val cnt = toks.groupBy("term")
          .agg(count(lit(1)).cast("double").as("c"))
        val tot = toks.agg(count(lit(1)).cast("double").as("n"))
        val lp = cnt.crossJoin(tot) // vocab × 1 row
          .select(col("term"), log(col("c") / col("n")).as("lp"))
        toks.join(lp, "term")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_tok"),
            round(avg("lp"), 6).as("avg_logprob"))
          .orderBy("doc_id")
      },
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS term
         |  FROM documents),
         |cnt AS (SELECT term, count(*)::DOUBLE AS c FROM toks GROUP BY term),
         |tot AS (SELECT count(*)::DOUBLE AS n FROM toks),
         |lp AS (SELECT term, ln(c / tot.n) AS lp FROM cnt, tot)
         |SELECT t.doc_id, count(*)::BIGINT AS n_tok,
         |  round(avg(lp.lp), 6) AS avg_logprob
         |FROM toks t JOIN lp ON t.term = lp.term
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    Q("q111_winnow_fingerprints",
      // robust winnowing (Schleimer et al. SIGMOD'03): per-doc distinct
      // window-min shingle hashes — any shared substring >= w+k-1 chars
      // between docs shares a fingerprint. Pure per-row array algebra;
      // the only shuffle is the output ORDER BY.
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.winnowFingerprints(col("text"))).as("fp"))
        .orderBy("doc_id", "fp"),
      s"""WITH nm AS (SELECT doc_id,
         |  lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
         |  FROM documents),
         |hs AS (SELECT doc_id, CASE WHEN length(norm) < 8
         |    THEN [${md5LongSql("norm")}]
         |    ELSE [${md5LongSql("substr(norm, i, 8)")}
         |          for i in range(1, length(norm) - 6)] END AS h FROM nm),
         |fp AS (SELECT doc_id, CASE WHEN len(h) < 4 THEN [list_min(h)]
         |    ELSE [list_min(h[i:i+3]) for i in range(1, len(h) - 2)] END
         |    AS f FROM hs)
         |SELECT DISTINCT doc_id, fp FROM
         |  (SELECT doc_id, unnest(f) AS fp FROM fp)
         |ORDER BY doc_id, fp""".stripMargin),

    Q("q112_pmi_pairs",
      // collocation mining: document-level PMI for co-occurring term
      // pairs. Pairs come from per-doc combinations over sorted distinct
      // tokens (bounded by doc vocab², never a corpus self-join);
      // marginals are a vocabulary-scale broadcast. The oracle's
      // equivalent self-join is fine for DuckDB at oracle scale.
      (s, dir) => TextAnalysis.pmiPairs(
        Tables.documents(s, dir), "doc_id", "text", minPairCount = 2L)
        .orderBy(col("pmi").desc, col("a").asc, col("b").asc).limit(20),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |p AS (SELECT DISTINCT doc_id, unnest(l) AS term FROM toks),
         |pr AS (SELECT a.term AS a, b.term AS b, count(*) AS c_ab
         |       FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.term < b.term
         |       GROUP BY 1, 2 HAVING count(*) >= 2),
         |c AS (SELECT term, count(*) AS c FROM p GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT pr.a, pr.b, c_ab,
         |  round(ln((c_ab * n.n) / (ca.c * cb.c)), 6) AS pmi
         |FROM pr JOIN c ca ON pr.a = ca.term
         |        JOIN c cb ON pr.b = cb.term, n
         |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin),

    Q("q113_zipf_slope",
      // corpus health check: least-squares slope of ln(freq) on ln(rank)
      // over the term-frequency table. The ranking window runs over the
      // vocabulary — metadata-scale by construction, not a scale bug.
      (s, dir) => TextAnalysis.zipfSlope(Tables.documents(s, dir),
        "doc_id", "text"),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |posting AS (SELECT unnest(l) AS t FROM toks),
         |f AS (SELECT t, count(*) AS freq FROM posting GROUP BY t),
         |r AS (SELECT freq,
         |      row_number() OVER (ORDER BY freq DESC, t) AS rank FROM f)
         |SELECT count(*)::BIGINT AS n_terms,
         |  round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope
         |FROM r""".stripMargin),

    Q("q114_char_entropy",
      // character-level Shannon entropy (nats) per doc: the cheap
      // repetitive/gibberish quality signal. Per-row array fold over the
      // doc's distinct chars — codegen'd, shuffle-free.
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.charEntropy(col("text")).as("entropy"))
        .orderBy("doc_id"),
      s"""WITH nm AS (SELECT doc_id,
         |  lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
         |  FROM documents),
         |ch AS (SELECT doc_id,
         |  unnest([substr(norm, i, 1) for i in range(1, length(norm) + 1)])
         |    AS c FROM nm),
         |cnt AS (SELECT doc_id, c, count(*)::DOUBLE AS k
         |        FROM ch GROUP BY doc_id, c),
         |tot AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY doc_id)
         |SELECT doc_id, round(-sum((k / n) * ln(k / n)), 6) AS entropy
         |FROM cnt JOIN tot USING (doc_id)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Incremental substring dedup: even doc_ids play the indexed
    // corpus, odd ids the incoming batch (the q71 pattern at substring
    // granularity). Only the batch is hashed; the dup test is one
    // semi-join against the corpus's persisted window-hash index.
    Q("q103_incremental_substring_spans",
      (s, dir) => {
        val docs   = Tables.documents(s, dir)
        val corpus = docs.filter(col("doc_id") % 2 === 0)
        val batch  = docs.filter(col("doc_id") % 2 === 1)
        val idx = Dedup.substringHashIndex(corpus, "doc_id", "text", 8)
        Dedup.incrementalSubstringSpans(idx, batch, "doc_id", "text", 8)
          .orderBy("doc", "span_start")
      },
      s"""WITH t AS (SELECT doc_id, $toksSql AS l FROM documents),
         |w AS (
         |  SELECT doc_id AS doc, pos,
         |    md5(array_to_string(l[pos:pos+7], ' ')) AS h
         |  FROM (SELECT doc_id, l,
         |          unnest(range(1, greatest(len(l) - 6, 1))) AS pos
         |        FROM t)),
         |idx AS (SELECT DISTINCT h FROM w WHERE doc % 2 = 0),
         |dw AS (SELECT doc, pos FROM w
         |  WHERE doc % 2 = 1 AND h IN (SELECT h FROM idx)),
         |g AS (SELECT doc, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc ORDER BY pos) = 1
         |         THEN 0 ELSE 1 END AS gap
         |  FROM dw),
         |isl AS (SELECT doc, pos,
         |    sum(gap) OVER (PARTITION BY doc ORDER BY pos) AS island
         |  FROM g)
         |SELECT doc, min(pos)::BIGINT AS span_start,
         |  (max(pos) + 7)::BIGINT AS span_end,
         |  count(*)::BIGINT AS n_windows
         |FROM isl GROUP BY doc, island
         |ORDER BY doc, span_start""".stripMargin),

    Q("q104_sketch_percentiles",
      // mergeable quantile sketch (KLL-shape compactor ladder): the
      // bounded-memory distributed percentile — no global sort, partial
      // buffers merge map-side, only ~capacity doubles cross the wire.
      // Unsaturated (capacity > n) it reproduces exact percentile()
      // semantics bit-for-bit, which is what the oracle pins; the
      // saturated approximation path is gated by SketchesSpec's rank-
      // error bound instead (per-doc-corpus stats like these are the
      // telemetry shape this serves at 100 TB).
      (s, dir) => {
        val ps = Seq(0.25, 0.5, 0.75, 0.9)
        Tables.documents(s, dir)
          .groupBy("lang")
          .agg(org.apache.spark.sql.graftext.QuantileSketchAgg
            .quantileSketch(col("n_chars").cast("double"), 4096, ps)
            .as("q"))
          .select(col("lang"),
            round(element_at(col("q"), 1), 6).as("p25"),
            round(element_at(col("q"), 2), 6).as("p50"),
            round(element_at(col("q"), 3), 6).as("p75"),
            round(element_at(col("q"), 4), 6).as("p90"))
          .orderBy("lang")
      },
      """SELECT lang,
        |  round(quantile_cont(n_chars, [0.25,0.5,0.75,0.9])[1], 6) AS p25,
        |  round(quantile_cont(n_chars, [0.25,0.5,0.75,0.9])[2], 6) AS p50,
        |  round(quantile_cont(n_chars, [0.25,0.5,0.75,0.9])[3], 6) AS p75,
        |  round(quantile_cont(n_chars, [0.25,0.5,0.75,0.9])[4], 6) AS p90
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    Q("q38_parse_vector_strings",
      (s, dir) => {
        // F10: the reference stores embeddings as TEXT in the RDB and
        // re-parses ('{-0.07,...}' → floats). Round-trip through the
        // string form with integer-valued components (exact in float32
        // on both engines).
        val asIntStr = transform(col("embedding"),
          x => floor(x.cast("double") * 1e6).cast("long").cast("string"))
        val vecStr = concat(lit("{"), concat_ws(",", asIntStr), lit("}"))
        val parsed = VectorFunctions.parseVectorString(vecStr)
        Tables.embeddings(s, dir).select(col("vec_id"),
          size(parsed).as("n_dims"),
          array_min(parsed).cast("long").as("min_c"),
          array_max(parsed).cast("long").as("max_c"))
          .orderBy("vec_id")
      },
      """SELECT vec_id,
        |  len(ints)::INT AS n_dims,
        |  list_min(ints)::BIGINT AS min_c,
        |  list_max(ints)::BIGINT AS max_c
        |FROM (SELECT vec_id,
        |        list_transform(embedding::DOUBLE[],
        |                       x -> floor(x * 1000000)::BIGINT) AS ints
        |      FROM embeddings) ORDER BY vec_id""".stripMargin),

    Q("q47_kmv_distinct_parts",
      (s, dir) => {
        val est = graft.functions.Sketches.kmvDistinct(
          Tables.lineitem(s, dir), "l_returnflag", "l_partkey", 64)
        val exact = Tables.lineitem(s, dir).groupBy("l_returnflag")
          .agg(countDistinct("l_partkey").as("exact_distinct"))
        est.join(exact, "l_returnflag").orderBy("l_returnflag")
      },
      s"""WITH hashed AS (
         |  SELECT DISTINCT l_returnflag,
         |    ${md5LongSql("l_partkey::VARCHAR")} AS h
         |  FROM lineitem),
         |topk AS (
         |  SELECT l_returnflag, h,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
         |  FROM hashed),
         |kmv AS (
         |  SELECT l_returnflag, max(h) AS hk, count(*) AS k
         |  FROM topk WHERE rn <= 64 GROUP BY l_returnflag)
         |SELECT kmv.l_returnflag,
         |  round(CASE WHEN k < 64 THEN k::DOUBLE
         |        ELSE (k - 1)::DOUBLE * 1152921504606846976.0 / hk::DOUBLE
         |        END, 4) AS est_distinct,
         |  exact.exact_distinct
         |FROM kmv JOIN (
         |  SELECT l_returnflag,
         |    count(DISTINCT l_partkey)::BIGINT AS exact_distinct
         |  FROM lineitem GROUP BY l_returnflag) exact USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin),

    Q("q48_sessions",
      (s, dir) => graft.operators.Sessionize
        .sessions(Tables.events(s, dir),
          graft.operators.Sessionize.DefaultGapSeconds)
        .orderBy("user_id", "session_idx"),
      s"""WITH e AS (
         |  SELECT user_id, event_id, value,
         |    epoch(date_trunc('second', ts))::BIGINT AS s FROM events),
         |m AS (
         |  SELECT *, CASE WHEN lag(s) OVER w IS NULL
         |      OR s - lag(s) OVER w > ${Sessionize.DefaultGapSeconds}
         |    THEN 1 ELSE 0 END AS new_s
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
         |x AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY s,
         |    event_id ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
         |  FROM m)
         |SELECT user_id, session_idx, min(s)::BIGINT AS start_s,
         |  max(s)::BIGINT AS end_s, count(*) AS n_events,
         |  sum(CAST(value AS DECIMAL(18,4)))::DOUBLE AS sum_value
         |FROM x GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin),

    Q("q49_quantity_percentiles",
      // exact percentiles (sort-based); at 100 TB switch the same query
      // shape to approx_percentile — the oracle pins the exact semantics
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
          .as("p"))
        .select(col("l_returnflag"),
          round(element_at(col("p"), 1), 6).as("p25"),
          round(element_at(col("p"), 2), 6).as("p50"),
          round(element_at(col("p"), 3), 6).as("p75"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, [0.25,0.5,0.75])[1], 6) AS p25,
        |  round(quantile_cont(l_quantity, [0.25,0.5,0.75])[2], 6) AS p50,
        |  round(quantile_cont(l_quantity, [0.25,0.5,0.75])[3], 6) AS p75
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    Q("q50_bloom_semi_revenue",
      // bloom pre-filter cuts the big side before the join shuffle; the
      // exact semi join removes false positives, so results are exact
      (s, dir) => {
        val urgent = Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey")
        // bloom sized to the build side (~30k urgent orders at sf0.1 →
        // 64k items / 64 KB), not the 1M-item default: an oversized bloom
        // costs more to build/broadcast than the shuffle it saves
        graft.operators.BloomPrune.semiJoin(
          Tables.lineitem(s, dir), "l_orderkey", urgent, "o_orderkey",
          expectedItems = 65536L)
          .groupBy("l_returnflag")
          .agg(sum(d184(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(18, 4)) - d184(col("l_discount"))))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag,
        |  (sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))::VARCHAR)::DOUBLE AS revenue,
        |  count(*) AS n_items
        |FROM lineitem SEMI JOIN (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT') o
        |  ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Q("q51_small_quantity_revenue",
      // TPC-H Q17 shape: per-part average joined back (broadcast — the
      // aggregate side is |parts|, tiny next to lineitem), threshold on
      // a derived per-group statistic
      // threshold `qty < 0.5*avg` is cross-multiplied (`2*qty*cnt <
      // sum`) so the comparison is exact integer/decimal arithmetic on
      // both engines — decimal-DIVISION scale rules differ and could
      // flip boundary rows
      (s, dir) => {
        val li  = Tables.lineitem(s, dir)
        val avg = li.groupBy(col("l_partkey").as("p_key"))
          .agg(sum(d184(col("l_quantity"))).as("sum_qty"),
            count(lit(1)).as("cnt"))
        li.join(broadcast(avg), li("l_partkey") === avg("p_key"))
          .filter(d184(col("l_quantity")) * lit(2) * col("cnt") <
            col("sum_qty"))
          .agg((sum(d184(col("l_extendedprice"))).cast("double") / 7.0)
            .as("avg_yearly"),
            count(lit(1)).as("n_items"))
      },
      """SELECT
        |  sum(CAST(l_extendedprice AS DECIMAL(18,4)))::DOUBLE / 7.0 AS avg_yearly,
        |  count(*) AS n_items
        |FROM lineitem JOIN (
        |  SELECT l_partkey AS p_key,
        |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
        |    count(*) AS cnt
        |  FROM lineitem GROUP BY l_partkey) a
        |  ON l_partkey = p_key
        |WHERE CAST(l_quantity AS DECIMAL(18,4)) * 2 * cnt < sum_qty""".stripMargin),

    Q("q53_repetition_stats",
      // Gopher-style repetition signals: type-token ratio (array
      // expressions, shuffle-free) + top-2-gram fraction (one shuffle
      // on (doc, gram) with map-side partial counts)
      (s, dir) => {
        val base = Tables.documents(s, dir).select(col("doc_id"),
          TextFunctions.tokens(col("text")).as("tk"))
          .select(col("doc_id"),
            round(size(array_distinct(col("tk"))) / size(col("tk")), 6)
              .as("ttr"),
            TextFunctions.shingles(col("tk"), 2).as("g2"))
          .filter(size(col("g2")) > 0)
        base.select(col("doc_id"), col("ttr"), explode(col("g2")).as("g"))
          .groupBy("doc_id", "ttr", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id", "ttr")
          .agg(round(max(col("c")) / sum(col("c")), 6).as("top_gram_frac"),
            sum(col("c")).cast("long").as("n_grams"))
          .orderBy("doc_id")
      },
      s"""WITH tk AS (SELECT doc_id, $toksSql AS l FROM documents),
         |base AS (
         |  SELECT doc_id,
         |    round(len(list_distinct(l))::DOUBLE / len(l), 6) AS ttr,
         |    unnest([l[i] || ' ' || l[i+1] for i in range(1, len(l))]) AS g
         |  FROM tk WHERE len(l) >= 2),
         |cnt AS (SELECT doc_id, ttr, g, count(*) AS c
         |        FROM base GROUP BY doc_id, ttr, g)
         |SELECT doc_id, ttr,
         |  round(max(c)::DOUBLE / sum(c), 6) AS top_gram_frac,
         |  sum(c)::BIGINT AS n_grams
         |FROM cnt GROUP BY doc_id, ttr ORDER BY doc_id""".stripMargin),

    Q("q54_customer_set_ops",
      // EXCEPT / INTERSECT over per-year customer sets (both plan as
      // hash-partitioned distinct joins — same shuffle shape at any SF)
      (s, dir) => {
        val o = Tables.orders(s, dir)
        def custs(y: Int) = o.filter(year(col("o_orderdate")) === y)
          .select("o_custkey").distinct()
        custs(1995).except(custs(1996))
          .withColumn("set_op", lit("1995_only"))
          .unionByName(custs(1995).intersect(custs(1996))
            .withColumn("set_op", lit("both_years")))
          .orderBy("set_op", "o_custkey")
      },
      """SELECT * FROM (
        |  SELECT o_custkey, '1995_only' AS set_op FROM (
        |    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |    EXCEPT
        |    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |  UNION ALL
        |  SELECT o_custkey, 'both_years' AS set_op FROM (
        |    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |    INTERSECT
        |    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996))
        |ORDER BY set_op, o_custkey""".stripMargin),

    Q("q52_user_moving_avg",
      // per-user 3-event moving average — windowed analytics over events
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(-2, Window.currentRow)
        Tables.events(s, dir)
          .withColumn("mov_avg",
            round(avg(d184(col("value"))).over(w), 6).cast("double"))
          .select("user_id", "event_id", "mov_avg")
          .orderBy("user_id", "event_id").limit(5000)
      },
      """SELECT user_id, event_id,
        |  round(avg(CAST(value AS DECIMAL(18,4)))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg
        |FROM events ORDER BY user_id, event_id LIMIT 5000""".stripMargin),

    Q("q45_revenue_rollup",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o  = Tables.orders(s, dir)
        val c  = Tables.customer(s, dir)
        val n  = Tables.nation(s, dir)
        val r  = Tables.region(s, dir)
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(sum(d184(col("l_extendedprice"))).cast("double").as("gross"),
            count(lit(1)).as("n_items"))
          // coalesce the rolled-up NULLs: Spark sorts nulls first, DuckDB
          // last — masking them keeps the total order engine-agnostic
          .select(coalesce(col("r_name"), lit("ALL")).as("region"),
            coalesce(col("n_name"), lit("ALL")).as("nation"),
            col("gross"), col("n_items"))
          .orderBy("region", "nation")
      },
      """SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(n_name, 'ALL') AS nation,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,4)))::DOUBLE AS gross,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region, nation""".stripMargin),

    // ==== custom operators: as-of / range join / sampling ===============

    Q("q40_asof_last_event",
      (s, dir) => {
        // for each order: the customer's latest event at or before the
        // order date (second-truncated ts on both engines — the fixture
        // stores ns, Spark reads µs; truncation makes compares identical)
        import graft.operators.AsOfJoin
        val ev = Tables.events(s, dir)
          .withColumn("ts", date_trunc("second", col("ts")))
          .withColumnRenamed("user_id", "o_custkey")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderdate")
        AsOfJoin.asOf(o, ev, Seq("o_custkey"), "o_orderdate", "ts",
          Seq("event_id"), tiebreak = "event_id")
          .select(col("o_orderkey"), col("event_id").as("last_event_id"))
          .orderBy("o_orderkey").limit(2000)
      },
      """SELECT o_orderkey,
        |  (SELECT max(e.event_id) FROM events e
        |   WHERE e.user_id = o.o_custkey
        |     AND date_trunc('second', e.ts) <= o.o_orderdate
        |     AND date_trunc('second', e.ts) =
        |         (SELECT max(date_trunc('second', e2.ts)) FROM events e2
        |          WHERE e2.user_id = o.o_custkey
        |            AND date_trunc('second', e2.ts) <= o.o_orderdate)
        |  ) AS last_event_id
        |FROM orders o ORDER BY o_orderkey LIMIT 2000""".stripMargin),

    Q("q63_asof_next_event",
      (s, dir) => {
        // forward as-of with tolerance: for each order, the customer's
        // FIRST event at/after the order date, but only within 7 days
        import graft.operators.AsOfJoin
        val ev = Tables.events(s, dir)
          .withColumn("ts", date_trunc("second", col("ts")))
          .withColumnRenamed("user_id", "o_custkey")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderdate")
        AsOfJoin.asOf(o, ev, Seq("o_custkey"), "o_orderdate", "ts",
          Seq("event_id"), tiebreak = "event_id", direction = "forward",
          toleranceSec = Some(7L * 24 * 3600))
          .select(col("o_orderkey"), col("event_id").as("next_event_id"))
          .orderBy("o_orderkey").limit(2000)
      },
      """SELECT o_orderkey,
        |  (SELECT min(e.event_id) FROM events e
        |   WHERE e.user_id = o.o_custkey
        |     AND date_trunc('second', e.ts) >= o.o_orderdate
        |     AND date_trunc('second', e.ts) <= o.o_orderdate + INTERVAL 7 DAY
        |     AND date_trunc('second', e.ts) =
        |         (SELECT min(date_trunc('second', e2.ts)) FROM events e2
        |          WHERE e2.user_id = o.o_custkey
        |            AND date_trunc('second', e2.ts) >= o.o_orderdate
        |            AND date_trunc('second', e2.ts) <= o.o_orderdate + INTERVAL 7 DAY)
        |  ) AS next_event_id
        |FROM orders o ORDER BY o_orderkey LIMIT 2000""".stripMargin),

    Q("q41_range_join_events",
      (s, dir) => {
        // events within [orderdate, orderdate + 1 day) per order
        import graft.operators.RangeJoin
        val ev = Tables.events(s, dir)
          .withColumn("ts", date_trunc("second", col("ts")))
          .withColumnRenamed("user_id", "o_custkey")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate").as("start"),
            (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("end"))
        RangeJoin.byTime(o, ev, Seq("o_custkey"), "start", "end", "ts",
          bucketSeconds = 86400)
          .groupBy("o_orderkey").agg(count(lit(1)).as("n_ev"))
          .orderBy("o_orderkey").limit(2000)
      },
      """SELECT o_orderkey, count(*) AS n_ev
        |FROM orders JOIN events
        |  ON user_id = o_custkey
        | AND date_trunc('second', ts) >= o_orderdate
        | AND date_trunc('second', ts) < o_orderdate + INTERVAL 1 DAY
        |GROUP BY o_orderkey ORDER BY o_orderkey LIMIT 2000""".stripMargin),

    Q("q42_hash_sample",
      (s, dir) => graft.pipeline.Sampling.hashSample(
        Tables.documents(s, dir), "doc_id", 0.25)
        .select("doc_id", "lang").orderBy("doc_id"),
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${md5LongSql("doc_id::VARCHAR")} % 1000000 < 250000
         |ORDER BY doc_id""".stripMargin),

    Q("q43_token_budget",
      (s, dir) => graft.pipeline.Sampling.tokenBudget(
        Tables.documents(s, dir)
          .withColumn("n_tokens", TextFunctions.tokenCount(col("text"))),
        "lang", "doc_id", "n_tokens", 5000L)
        .select("doc_id", "lang", "n_tokens").orderBy("doc_id"),
      s"""SELECT doc_id, lang, n_tokens FROM (
         |  SELECT doc_id, lang, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY ${md5LongSql("doc_id::VARCHAR")}, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM (SELECT doc_id, lang, len($toksSql)::BIGINT AS n_tokens
         |        FROM documents))
         |WHERE cum <= 5000 ORDER BY doc_id""".stripMargin),

    Q("q44_stratified_take",
      (s, dir) => graft.pipeline.Sampling.stratifiedTake(
        Tables.documents(s, dir), "lang", "doc_id", 7)
        .select("doc_id", "lang").orderBy("doc_id"),
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ${md5LongSql("doc_id::VARCHAR")}, doc_id) AS rn
         |  FROM documents) WHERE rn <= 7 ORDER BY doc_id""".stripMargin),

    Q("q39_catalog_roundtrip",
      (s, dir) => {
        // D1/D4/S6/O1 as one deterministic flow: load documents into a
        // fresh catalog table, delete three ids, read back top-10 by id.
        import graft.table.ParquetCatalog
        val base = java.nio.file.Files.createTempDirectory("graft_cat_").toString
        val c = ParquetCatalog(s, base)
        val docs = Tables.documents(s, dir).select("doc_id", "lang", "source")
        c.createTable("docs", docs.schema)
        c.insert("docs", docs)
        c.deleteByIds("docs", "doc_id", Seq(1L, 3L, 5L))
        c.select("docs", "doc_id", Some(10))
      },
      """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (1, 3, 5) ORDER BY doc_id LIMIT 10""".stripMargin),

    Q("q90_cdc_scd2_history",
      (s, dir) => {
        // CDC composed with SCD2 as ONE flow: two snapshot versions of a
        // customer dimension, SnapshotCatalog.diff classifies the delta
        // (anti/anti/filtered-inner, no window), and the non-deleted
        // changes drive Scd2.merge as the incoming batch — versioned
        // dimension history without rewriting closed rows.
        import graft.table.{Scd2, SnapshotCatalog}
        val base =
          java.nio.file.Files.createTempDirectory("graft_snap_").toString
        val cat = SnapshotCatalog(s, base)
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            col("c_acctbal"))
        // v1: every tenth key missing; v2: full, every seventh acctbal
        // bumped (+100.0 is the same IEEE add in both engines)
        val v1 = cat.write("dim", cust.filter(col("c_custkey") % 10 =!= 0))
        val v2 = cat.write("dim", cust.withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal"))))
        val incoming = cat.diff("dim", v1, v2, "c_custkey")
          .filter(col("change") =!= "deleted").drop("change")
        Scd2.merge(Scd2.init(cat.readAt("dim", v1), 1000L),
            incoming, "c_custkey", 2000L)
          .orderBy("c_custkey", "valid_from")
      },
      """WITH v1 AS (
        |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 10 <> 0),
        |v2 AS (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer),
        |changed AS (
        |  SELECT n.c_custkey FROM v2 n JOIN v1 o USING (c_custkey)
        |  WHERE n.c_acctbal IS DISTINCT FROM o.c_acctbal
        |     OR n.c_name IS DISTINCT FROM o.c_name
        |     OR n.c_mktsegment IS DISTINCT FROM o.c_mktsegment),
        |ins AS (
        |  SELECT c_custkey FROM v2
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM v1))
        |SELECT * FROM (
        |  SELECT o.c_custkey, o.c_name, o.c_mktsegment, o.c_acctbal,
        |    1000::BIGINT AS valid_from, 2000::BIGINT AS valid_to,
        |    FALSE AS is_current
        |  FROM v1 o JOIN changed USING (c_custkey)
        |  UNION ALL
        |  SELECT o.c_custkey, o.c_name, o.c_mktsegment, o.c_acctbal,
        |    1000::BIGINT, NULL::BIGINT, TRUE
        |  FROM v1 o
        |  WHERE o.c_custkey NOT IN (SELECT c_custkey FROM changed)
        |  UNION ALL
        |  SELECT n.c_custkey, n.c_name, n.c_mktsegment, n.c_acctbal,
        |    2000::BIGINT, NULL::BIGINT, TRUE
        |  FROM v2 n
        |  WHERE n.c_custkey IN (SELECT c_custkey FROM changed
        |                        UNION ALL SELECT c_custkey FROM ins))
        |ORDER BY c_custkey, valid_from""".stripMargin),

    Q("q55_rrf_fusion",
      (s, dir) => HybridSearch.searchRrf(Tables.documents(s, dir),
        Tables.embeddings(s, dir), QueryText, Embedder)
        .select("doc_id", "score", "lang", "source", "n_chars"),
      {
        val nCand = HybridSearch.numCandidates(HybridSearch.DefaultSize)
        s"""WITH text_s AS (
           |  SELECT doc_id,
           |    round(len(list_intersect($toksSql, $qtermsSql))::DOUBLE
           |          / ${QueryTerms.length}.0, 6) AS text_score
           |  FROM documents
           |  WHERE len(list_intersect($toksSql, $qtermsSql)) > 0
           |  ORDER BY text_score DESC, doc_id LIMIT $nCand),
           |tr AS (SELECT doc_id, row_number() OVER
           |         (ORDER BY text_score DESC, doc_id) AS tr FROM text_s),
           |vec_s AS (
           |  SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
           |  FROM embeddings ORDER BY vec_score DESC, doc_id LIMIT $nCand),
           |vr AS (SELECT doc_id, row_number() OVER
           |         (ORDER BY vec_score DESC, doc_id) AS vr FROM vec_s),
           |fused AS (
           |  SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
           |    round(coalesce(1.0::DOUBLE / (60 + t.tr), 0.0)
           |        + coalesce(1.0::DOUBLE / (60 + v.vr), 0.0), 6) AS score
           |  FROM tr t FULL OUTER JOIN vr v ON t.doc_id = v.doc_id)
           |SELECT f.doc_id, f.score, d.lang, d.source, d.n_chars
           |FROM (SELECT * FROM fused
           |      ORDER BY score DESC, doc_id LIMIT ${HybridSearch.DefaultSize}) f
           |JOIN documents d ON d.doc_id = f.doc_id
           |ORDER BY f.score DESC, f.doc_id""".stripMargin
      }),

    Q("q56_simhash_verified",
      (s, dir) => Dedup.simhashVerifiedPairs(Tables.documents(s, dir),
        "doc_id", "text").orderBy("a", "b"),
      {
        val bits = (0 until Dedup.SimHashBits).map { i =>
          s"(CASE WHEN list_sum([((h >> $i) & 1) * 2 - 1 for h in hs])" +
            s" > 0 THEN ${1L << i}::BIGINT ELSE 0::BIGINT END)"
        }.mkString(" + ")
        s"""WITH sigs AS (
           |  SELECT doc_id, ($bits)::BIGINT AS sim
           |  FROM (SELECT doc_id, [${md5LongSql("t")} for t in $toksSql] AS hs
           |        FROM documents)),
           |quarters AS (
           |  SELECT doc_id, sim, q, (sim >> (q * 15)) & ${(1L << 15) - 1} AS v
           |  FROM sigs, unnest([0, 1, 2, 3]) AS t(q)),
           |ok AS (SELECT q, v FROM quarters GROUP BY q, v
           |       HAVING count(DISTINCT doc_id) <= ${Dedup.MaxGroupSize})
           |SELECT a, b, hamming FROM (
           |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
           |    bit_count(xor(l.sim, r.sim))::INT AS hamming
           |  FROM quarters l JOIN quarters r ON l.q = r.q AND l.v = r.v
           |  JOIN ok ON ok.q = l.q AND ok.v = l.v
           |  WHERE l.doc_id < r.doc_id)
           |WHERE hamming <= 3 ORDER BY a, b""".stripMargin
      }),

    Q("q57_tfidf_embed_profile",
      (s, dir) => graft.embed.TfIdfEmbed.profile(
        Tables.documents(s, dir), "doc_id", "text").orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tf AS (SELECT doc_id, ${md5LongSql("tok")} % 64 AS bucket,
         |       count(*)::DOUBLE AS tf FROM toks GROUP BY doc_id, bucket),
         |mm AS (SELECT count(*)::DOUBLE AS m FROM documents),
         |dfreq AS (SELECT bucket, count(*)::DOUBLE AS df FROM tf GROUP BY bucket),
         |w AS (SELECT doc_id, tf.bucket, tf.tf * ln((mm.m + 1) / (dfreq.df + 1)) AS wr
         |      FROM tf JOIN dfreq ON tf.bucket = dfreq.bucket CROSS JOIN mm),
         |n AS (SELECT doc_id, sqrt(sum(wr * wr)) AS norm FROM w GROUP BY doc_id),
         |nw AS (SELECT w.doc_id, bucket, wr / n.norm AS wn, n.norm AS norm
         |       FROM w JOIN n ON w.doc_id = n.doc_id)
         |SELECT doc_id, count(*)::BIGINT AS nnz, round(any_value(norm), 4) AS l2_raw,
         |  md5(string_agg(bucket || ':' || round(wn * 10000)::BIGINT, ','
         |      ORDER BY bucket)) AS sig
         |FROM nw GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // MLlib TF-IDF pipeline end-to-end, FULLY oracled: RegexTokenizer →
    // Md5HashingTF (md5 bucketing — the SQL-expressible drop-in for
    // murmur3 HashingTF) → IDF fit over the corpus → L2 Normalizer,
    // query embedded driver-side in the same space, brute-force top-10.
    // The oracle recomputes everything — doc weights, query idf
    // weighting, both normalizations, the dot product — from the raw
    // text, so tokenize/tf/idf/normalize/score are all checked. Doubles
    // end-to-end (doubleOut) so 6dp rounding is stable cross-engine.
    // The murmur3 production path is pinned by MlEmbedderSpec's
    // injective-dim isomorphism test (same neighborhoods once the hash
    // stops colliding — the hash is the only difference).
    Q("q58_mllib_knn",
      (s, dir) => {
        val docs   = Tables.documents(s, dir).select("doc_id", "text")
        val fitted = mlFittedMd5(s, dir)
        val emb = graft.embed.MlEmbedder.transformCorpus(docs, "text",
          "ml_vec", EmbedDim, hash = "md5", doubleOut = true)
        // dot against the ≤|query tokens| nonzero query buckets only —
        // a short codegen'd expression, no HOF over all 64 dims
        val q = fitted.embedDouble(QueryText)
        val score = q.toSeq.zipWithIndex
          .collect { case (w, i) if w != 0.0 =>
            element_at(col("ml_vec"), i + 1) * lit(w) }
          .reduce(_ + _)
        emb.select(col("doc_id"), round(score, 6).as("vec_score"))
          .filter(col("vec_score") > 0)
          .orderBy(col("vec_score").desc, col("doc_id"))
          .limit(10)
      },
      {
        // query term counts per md5 bucket are corpus-independent
        // constants; idf-weighting and normalization of the query stay
        // in SQL so the oracle checks them too
        val qtfRows = QueryText.toLowerCase.split("[^a-z0-9]+")
          .filter(_.nonEmpty).toSeq
          .groupBy(t => graft.embed.Md5HashingTF.bucket(t, EmbedDim))
          .toSeq.sortBy(_._1)
          .map { case (b, ts) => s"($b, ${ts.size}.0)" }.mkString(", ")
        s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
           |tf AS (SELECT doc_id, ${md5LongSql("tok")} % $EmbedDim AS bucket,
           |       count(*)::DOUBLE AS tf FROM toks GROUP BY doc_id, bucket),
           |mm AS (SELECT count(*)::DOUBLE AS m FROM documents),
           |dfreq AS (SELECT bucket, count(*)::DOUBLE AS df FROM tf GROUP BY bucket),
           |w AS (SELECT doc_id, tf.bucket, tf.tf * ln((mm.m + 1) / (dfreq.df + 1)) AS wr
           |      FROM tf JOIN dfreq ON tf.bucket = dfreq.bucket CROSS JOIN mm),
           |n AS (SELECT doc_id, sqrt(sum(wr * wr)) AS norm FROM w GROUP BY doc_id),
           |nw AS (SELECT w.doc_id, bucket, wr / n.norm AS wn
           |       FROM w JOIN n ON w.doc_id = n.doc_id),
           |qtf AS (SELECT * FROM (VALUES $qtfRows) AS t(bucket, qtf)),
           |qw AS (SELECT q.bucket, q.qtf * ln((mm.m + 1) / (coalesce(d.df, 0) + 1)) AS qwr
           |       FROM qtf q LEFT JOIN dfreq d ON q.bucket = d.bucket CROSS JOIN mm),
           |qn AS (SELECT sqrt(sum(qwr * qwr)) AS qnorm FROM qw),
           |qv2 AS (SELECT bucket, qwr / qnorm AS qwn FROM qw CROSS JOIN qn),
           |scores AS (SELECT nw.doc_id, round(sum(nw.wn * qv2.qwn), 6) AS vec_score
           |           FROM nw JOIN qv2 ON nw.bucket = qv2.bucket GROUP BY nw.doc_id)
           |SELECT doc_id, vec_score FROM scores WHERE vec_score > 0
           |ORDER BY vec_score DESC, doc_id LIMIT 10""".stripMargin
      }),

    Q("q59_frame_samples",
      (s, dir) => {
        val media = Tables.documents(s, dir).select(col("doc_id"),
          col("text").cast("binary").as("media"))
        graft.multimodal.Multimodal.withFrameSamples(media, "media", n = 4)
          .select(col("doc_id"), explode(col("frames")).as("f"))
          .select(col("doc_id"), col("f.frame_idx"), col("f.frame_off"),
            col("f.frame_len"), col("f.frame_md5"))
          .orderBy("doc_id", "frame_idx")
      },
      // fixture text is ASCII (q32 relies on the same byte==char
      // equivalence), so substr-by-char mirrors the byte slicing
      s"""SELECT doc_id, i AS frame_idx,
         |  (i * L) // 4 AS frame_off,
         |  ((i + 1) * L) // 4 - (i * L) // 4 AS frame_len,
         |  md5(substr(text, (i * L) // 4 + 1,
         |      ((i + 1) * L) // 4 - (i * L) // 4)) AS frame_md5
         |FROM (SELECT doc_id, text, length(text)::BIGINT AS L FROM documents),
         |  unnest([0, 1, 2, 3]) AS t(i)
         |WHERE L > 0 ORDER BY doc_id, frame_idx""".stripMargin),

    Q("q60_near_dup_clusters",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.nearDupClusters(docs, "doc_id",
          Dedup.minhashCandidatePairs(docs, "doc_id", "text"))
          .orderBy("doc_id")
      },
      // oracle: transitive closure as a recursive CTE — min reachable id
      // over the undirected pair graph; singletons label themselves
      s"""WITH RECURSIVE ${minhashPairCtes()},
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |cc(node, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src)
         |SELECT node AS doc_id, min(label)::BIGINT AS cluster_id
         |FROM cc GROUP BY node ORDER BY doc_id""".stripMargin),

    // deterministic synthetic PII injected per row so redaction does
    // real work on the fixture (which contains none) — both engines
    // build the identical dirty string, then run the same RE2-safe
    // pattern chain from TextFunctions.PiiPatterns
    Q("q61_redact_pii",
      (s, dir) => {
        val dirty = concat(col("text"), lit(" contact doc"), col("doc_id"),
          lit("@example.com via http://ex.org/d/"), col("doc_id"),
          lit(" call 555-123-4567"))
        Tables.documents(s, dir).select(col("doc_id"),
            md5(TextFunctions.redactPii(dirty)).as("red_md5"),
            (length(dirty) - length(TextFunctions.redactPii(dirty)))
              .cast("long").as("removed_chars"))
          .orderBy("doc_id")
      },
      {
        val chain = TextFunctions.PiiPatterns.foldLeft("d") {
          case (acc, (pat, tag)) =>
            s"regexp_replace($acc, '$pat', '$tag', 'g')"
        }
        s"""WITH dirty AS (
           |  SELECT doc_id, text || ' contact doc' || doc_id
           |    || '@example.com via http://ex.org/d/' || doc_id
           |    || ' call 555-123-4567' AS d FROM documents),
           |red AS (SELECT doc_id, d, $chain AS r FROM dirty)
           |SELECT doc_id, md5(r) AS red_md5,
           |  (length(d) - length(r))::BIGINT AS removed_chars
           |FROM red ORDER BY doc_id""".stripMargin
      }),

    Q("q64_mixture_sample",
      (s, dir) => graft.pipeline.Sampling.mixtureTake(
        Tables.documents(s, dir), "lang", "doc_id", MixtureRecipe)
        .select("doc_id", "lang").orderBy("doc_id"),
      {
        val cases = MixtureRecipe.toSeq.sortBy(_._1)
          .map { case (l, n) => s"WHEN lang = '$l' THEN $n" }
          .mkString(" ")
        s"""SELECT doc_id, lang FROM (
           |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
           |    ORDER BY ${md5LongSql("doc_id::VARCHAR")}, doc_id) AS rn
           |  FROM documents)
           |WHERE rn <= (CASE $cases ELSE 0 END) ORDER BY doc_id""".stripMargin
      }),

    Q("q62_decontaminate",
      (s, dir) => graft.pipeline.Decontaminate.contaminated(
        Tables.documents(s, dir), "doc_id", "text", BenchmarkPhrases)
        .orderBy("doc_id"),
      {
        val shingles = graft.pipeline.Decontaminate
          .phraseShingles(BenchmarkPhrases)
          .map(sh => s"'$sh'").mkString(", ")
        s"""SELECT doc_id, count(*)::BIGINT AS n_contaminated
           |FROM (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS shingle
           |      FROM (SELECT doc_id, $toksSql AS l FROM documents))
           |WHERE shingle IN ($shingles)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // Space-Saving heavy hitters: capacity 32 >= the fixture's 20
    // distinct sources per lang, so the sketch is in its exact regime
    // and the oracle is plain top-3-by-count (ties broken term-asc).
    Q("q65_topk_frequent_sources",
      (s, dir) => graft.functions.Sketches.topKFrequent(
        Tables.documents(s, dir), "lang", "source", capacity = 32, topN = 3)
        .select(col("lang"), col("term"),
          col("cnt").cast("long").as("cnt"))
        .orderBy(col("lang"), col("cnt").desc, col("term")),
      """SELECT lang, source AS term, count(*)::BIGINT AS cnt
        |FROM documents GROUP BY lang, source
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY count(*) DESC, source) <= 3
        |ORDER BY lang, cnt DESC, term""".stripMargin),

    // Int8 scalar-quantized ANN + exact rerank. Both engines derive the
    // per-dim (min,max) codebook from the corpus, quantize docs AND the
    // query with floor((x-mn)*255/(mx-mn))-128 (floor: identical across
    // engines, unlike round), rank by integer dot product, and rerank
    // the top-50 candidates with exact cosine.
    Q("q66_quantized_knn",
      (s, dir) => VectorSearch.quantizedTopK(Tables.embeddings(s, dir),
        "vec_id", "embedding", QueryVec, 10, EmbedDim, numCandidates = 50),
      {
        val qd = (i: String) => // quantize embedding[i] with the codebook
          s"(CASE WHEN mxs[$i] = mns[$i] THEN 0 ELSE " +
            s"least(127, greatest(-128, " +
            s"floor((embedding[$i]::DOUBLE - mns[$i]) * 255.0 / " +
            s"(mxs[$i] - mns[$i]))::BIGINT - 128)) END)"
        s"""WITH pe AS (
           |  SELECT unnest(embedding)::DOUBLE AS v,
           |         generate_subscripts(embedding, 1) AS pos
           |  FROM embeddings),
           |mm AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM pe GROUP BY pos),
           |arrs AS (SELECT list(mn ORDER BY pos) AS mns,
           |                list(mx ORDER BY pos) AS mxs FROM mm),
           |qq AS (
           |  SELECT [CASE WHEN mxs[i] = mns[i] THEN 0 ELSE
           |            least(127, greatest(-128,
           |              floor((($qvSql)[i] - mns[i]) * 255.0 /
           |                (mxs[i] - mns[i]))::BIGINT - 128)) END
           |          for i in range(1, ${EmbedDim + 1})] AS qv FROM arrs),
           |cand AS (
           |  SELECT vec_id, embedding,
           |    list_sum([${qd("i")} * qv[i]
           |              for i in range(1, ${EmbedDim + 1})])::BIGINT AS qscore
           |  FROM embeddings, arrs, qq
           |  ORDER BY qscore DESC, vec_id LIMIT 50)
           |SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
           |FROM cand
           |ORDER BY vec_score DESC, doc_id LIMIT 10""".stripMargin
      }),

    Q("q115_search_eval",
      // offline serving-quality evaluation: NDCG@10 / MRR / recall@10 of
      // the int8-quantized ANN ranking (q66's path) against exact
      // brute-force ground truth (q24's path). The metrics run over two
      // 10-row frames — metadata-scale by construction; the corpus-
      // scale work is the upstream retrievals being evaluated.
      (s, dir) => {
        val embs = Tables.embeddings(s, dir)
        VectorSearch.evalRanking(
          VectorSearch.quantizedTopK(embs, "vec_id", "embedding", QueryVec,
            10, EmbedDim, numCandidates = 50),
          VectorSearch.topK(embs, "vec_id", "embedding", QueryVec, 10),
          k = 10)
      },
      {
        val qd = (i: String) => // same int8 quantizer as q66's oracle
          s"(CASE WHEN mxs[$i] = mns[$i] THEN 0 ELSE " +
            s"least(127, greatest(-128, " +
            s"floor((embedding[$i]::DOUBLE - mns[$i]) * 255.0 / " +
            s"(mxs[$i] - mns[$i]))::BIGINT - 128)) END)"
        val idcg = dec((1 to 10)
          .map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0))).sum)
        s"""WITH pe AS (
           |  SELECT unnest(embedding)::DOUBLE AS v,
           |         generate_subscripts(embedding, 1) AS pos
           |  FROM embeddings),
           |mm AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM pe GROUP BY pos),
           |arrs AS (SELECT list(mn ORDER BY pos) AS mns,
           |                list(mx ORDER BY pos) AS mxs FROM mm),
           |qq AS (
           |  SELECT [CASE WHEN mxs[i] = mns[i] THEN 0 ELSE
           |            least(127, greatest(-128,
           |              floor((($qvSql)[i] - mns[i]) * 255.0 /
           |                (mxs[i] - mns[i]))::BIGINT - 128)) END
           |          for i in range(1, ${EmbedDim + 1})] AS qv FROM arrs),
           |cand AS (
           |  SELECT vec_id, embedding,
           |    list_sum([${qd("i")} * qv[i]
           |              for i in range(1, ${EmbedDim + 1})])::BIGINT AS qscore
           |  FROM embeddings, arrs, qq
           |  ORDER BY qscore DESC, vec_id LIMIT 50),
           |sysr AS (SELECT doc_id, row_number() OVER
           |           (ORDER BY vs DESC, doc_id) AS r
           |  FROM (SELECT vec_id AS doc_id, round($cosSql, 6) AS vs FROM cand
           |        ORDER BY vs DESC, doc_id LIMIT 10) x),
           |truthr AS (SELECT doc_id, row_number() OVER
           |             (ORDER BY vs DESC, doc_id) AS tr
           |  FROM (SELECT vec_id AS doc_id, round($cosSql, 6) AS vs
           |        FROM embeddings ORDER BY vs DESC, doc_id LIMIT 10) y)
           |SELECT
           |  round(coalesce(sum(1.0 / log2(s.r + 1))
           |    FILTER (WHERE t.doc_id IS NOT NULL), 0) / $idcg, 6) AS ndcg,
           |  round(coalesce(1.0 / (min(s.r)
           |    FILTER (WHERE t.doc_id IS NOT NULL)), 0), 6) AS mrr,
           |  round(count(t.doc_id) / 10.0, 6) AS recall
           |FROM sysr s LEFT JOIN truthr t ON s.doc_id = t.doc_id""".stripMargin
      }),

    // ES match_phrase over positional postings: a doc matches where the
    // phrase tokens sit at consecutive positions (per-start
    // count(DISTINCT idx) == m). Both engines run the identical
    // start = pos - idx algebra (off-by-one in pos base cancels in the
    // grouping).
    Q("q67_phrase_match",
      (s, dir) => TextSearch.phraseMatch(
        Tables.documents(s, dir), "doc_id", "text", PhraseQuery)
        .select(col("doc_id"), col("n_occurrences").cast("long")
          .as("n_occurrences"))
        .orderBy("doc_id"),
      {
        val terms = PhraseQuery.toLowerCase.split("[^a-z0-9]+")
          .filter(_.nonEmpty)
        val vals = terms.zipWithIndex
          .map { case (t, i) => s"('$t', $i)" }.mkString(", ")
        s"""WITH pp AS (
           |  SELECT doc_id, unnest(l) AS term,
           |         generate_subscripts(l, 1) AS pos
           |  FROM (SELECT doc_id, $toksSql AS l FROM documents)),
           |ph(term, idx) AS (VALUES $vals),
           |starts AS (
           |  SELECT doc_id, pos - idx AS s, count(DISTINCT idx) AS m
           |  FROM pp JOIN ph USING (term)
           |  GROUP BY doc_id, pos - idx)
           |SELECT doc_id, count(*)::BIGINT AS n_occurrences
           |FROM starts WHERE m = ${terms.length}
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // Rank-based quality deciles: bucket = 1 + (10 * |rows strictly
    // below|) div n — all-integer, tie-stable, no percentile
    // interpolation (whose FP association differs across engines).
    Q("q68_quality_deciles",
      (s, dir) => graft.pipeline.Sampling.qualityDeciles(
        Tables.documents(s, dir), "text")
        .select(col("decile"), col("n_docs").cast("long").as("n_docs"),
          col("min_q"), col("max_q"))
        .orderBy("decile"),
      s"""WITH scored AS (SELECT doc_id, $qualitySql AS q FROM documents),
         |vc AS (SELECT q, count(*) AS cnt FROM scored GROUP BY q),
         |cum AS (SELECT q, sum(cnt) OVER (ORDER BY q) - cnt AS cb FROM vc),
         |tot AS (SELECT count(*) AS n FROM scored)
         |SELECT (1 + (10 * cb) // n)::INT AS decile,
         |  count(*)::BIGINT AS n_docs,
         |  round(min(q), 6) AS min_q, round(max(q), 6) AS max_q
         |FROM scored JOIN cum USING (q) CROSS JOIN tot
         |GROUP BY decile ORDER BY decile""".stripMargin),

    // Multi-vector (late-interaction) retrieval: each label is an entity
    // owning many vectors; best-matching member scores the entity.
    Q("q69_maxsim_groups",
      (s, dir) => VectorSearch.maxSimTopK(Tables.embeddings(s, dir),
        "label", "embedding", QueryVec, 5)
        .select(col("group_id").cast("int").as("group_id"), col("max_sim")),
      s"""SELECT label AS group_id, max(round($cosSql, 6)) AS max_sim
         |FROM embeddings GROUP BY label
         |ORDER BY max_sim DESC, group_id LIMIT 5""".stripMargin),

    // TPC-H Q19 shape: disjunction of brand/size/quantity conjunctions.
    // The plan must (a) broadcast part, (b) push the OR-reduced bounds
    // (quantity BETWEEN overall min..max, size <= 15) into BOTH scans
    // while the full disjunction evaluates post-join (PlanSpec pins the
    // broadcast; Catalyst's constraint propagation handles the rest).
    Q("q70_disjunctive_revenue",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val p  = Tables.part(s, dir)
        val joined = li.join(broadcast(p),
          col("l_partkey") === col("p_partkey"))
        val pred =
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))
        joined.filter(pred)
          .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast("double").as("revenue"),
            count(lit(1)).as("n_rows"))
      },
      """SELECT
        |  (sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(18,4)))::DOUBLE
        |    AS revenue,
        |  count(*)::BIGINT AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |        AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |        AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // Incremental dedup: even doc_ids play the indexed corpus, odd ids
    // the incoming batch. Only the batch is signed; the corpus side is
    // its persisted band index, hot-band-capped on the corpus side.
    Q("q71_incremental_dedup_pairs",
      (s, dir) => {
        val docs   = Tables.documents(s, dir)
        val corpus = docs.filter(col("doc_id") % 2 === 0)
        val batch  = docs.filter(col("doc_id") % 2 === 1)
        val idx    = Dedup.minhashBandIndex(corpus, "doc_id", "text")
        Dedup.incrementalCandidatePairs(idx, batch, "doc_id", "text")
          .orderBy("a", "b")
      },
      s"""WITH ${minhashPairCtes()},
         |okc AS (SELECT band FROM exploded WHERE doc_id % 2 = 0
         |        GROUP BY band
         |        HAVING count(DISTINCT doc_id) <= ${Dedup.MaxGroupSize})
         |SELECT DISTINCT c.doc_id AS a, n.doc_id AS b
         |FROM exploded c JOIN exploded n ON c.band = n.band
         |WHERE c.doc_id % 2 = 0 AND n.doc_id % 2 = 1
         |  AND c.band IN (SELECT band FROM okc)
         |ORDER BY a, b""".stripMargin),

    // Pivot (long→wide): per-user event-type counts as columns. The
    // explicit value list keeps the plan a single pass (no values-
    // discovery job) — at scale ALWAYS pass the list.
    Q("q72_event_pivot",
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
        .na.fill(0L, EventTypes)
        .select(col("user_id") +: EventTypes.map(t =>
          col(t).cast("long").as(s"n_$t")): _*)
        .orderBy("user_id"),
      {
        val cols = EventTypes.map(t =>
          s"count(*) FILTER (WHERE event_type = '$t')::BIGINT AS n_$t")
          .mkString(", ")
        s"""SELECT user_id, $cols
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
      }),

    // Fixed-width histogram: integer bucket arithmetic (floor — portable)
    // over event values; one partial-aggregated pass.
    Q("q73_value_histogram",
      (s, dir) => Tables.events(s, dir)
        .groupBy(least(floor(col("value") / 50.0), lit(9L)).cast("int")
          .as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(d184(col("value"))).cast("double").as("sum_value"))
        .orderBy("bucket"),
      """SELECT least(floor(value / 50.0), 9)::INT AS bucket,
        |  count(*)::BIGINT AS n,
        |  sum(CAST(value AS DECIMAL(18,4)))::DOUBLE AS sum_value
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Proximity (ES match + slop): every term within `slop` positions of
    // an anchor-term occurrence — exact, no bucketing approximation.
    Q("q74_proximity_match",
      (s, dir) => TextSearch.proximityMatch(
        Tables.documents(s, dir), "doc_id", "text",
        ProximityQuery, ProximitySlop)
        .select(col("doc_id"),
          col("n_windows").cast("long").as("n_windows"))
        .orderBy("doc_id"),
      {
        val terms = ProximityQuery.toLowerCase.split("[^a-z0-9]+")
          .filter(_.nonEmpty).distinct
        val chain = terms.tail.zipWithIndex.map { case (t, i) =>
          val prev = if (i == 0) "anchor" else s"m$i"
          s"""m${i + 1} AS (
             |  SELECT DISTINCT a.doc_id, a.p0 FROM $prev a
             |  JOIN pp t ON t.doc_id = a.doc_id AND t.term = '$t'
             |   AND abs(t.pos - a.p0) <= $ProximitySlop)""".stripMargin
        }.mkString(",\n")
        val last = s"m${terms.length - 1}"
        s"""WITH pp AS (
           |  SELECT doc_id, unnest(l) AS term,
           |         generate_subscripts(l, 1) AS pos
           |  FROM (SELECT doc_id, $toksSql AS l FROM documents)),
           |anchor AS (SELECT doc_id, pos AS p0 FROM pp
           |           WHERE term = '${terms.head}'),
           |$chain
           |SELECT doc_id, count(DISTINCT p0)::BIGINT AS n_windows
           |FROM $last GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // CUBE: all grouping-set combinations in one pass ((all) label keeps
    // the compare deterministic — fixture keys are never null).
    Q("q75_returns_cube",
      (s, dir) => Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double")
          .as("sum_qty"), count(lit(1)).as("n_rows"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("sum_qty"), col("n_rows"))
        .orderBy("rf", "ls"),
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
        |  coalesce(l_linestatus, '(all)') AS ls,
        |  sum(l_quantity::DECIMAL(18,4))::DOUBLE AS sum_qty,
        |  count(*)::BIGINT AS n_rows
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),

    // RAG chunking: 64-token windows, 16-token overlap (step 48). Chunk
    // boundaries are pure token arithmetic — identical in both engines.
    Q("q77_doc_chunks",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(TextFunctions.chunkTokens(
          TextFunctions.tokens(col("text")), ChunkSize, ChunkOverlap))
          .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          md5(col("chunk")).as("chunk_md5"),
          length(col("chunk")).cast("long").as("n_chars"))
        .orderBy("doc_id", "chunk_idx"),
      {
        val step = ChunkSize - ChunkOverlap
        s"""SELECT doc_id,
           |  generate_subscripts(ch, 1)::BIGINT - 1 AS chunk_idx,
           |  md5(unnest(ch)) AS chunk_md5,
           |  length(unnest(ch))::BIGINT AS n_chars
           |FROM (SELECT doc_id,
           |        [array_to_string(l[s:s + ${ChunkSize - 1}], ' ')
           |         for s in range(1, len(l) + 1, $step)] AS ch
           |      FROM (SELECT doc_id, $toksSql AS l FROM documents))
           |ORDER BY doc_id, chunk_idx""".stripMargin
      }),

    // Ordered funnel: users reaching each step having done the previous
    // steps in order (strictly-later seconds).
    Q("q78_event_funnel",
      (s, dir) => graft.operators.Funnel.funnelCounts(
        Tables.events(s, dir), "user_id", "event_type", "ts", FunnelSteps),
      {
        val chain = FunnelSteps.tail.zipWithIndex.map { case (t, i) =>
          val prev = if (i == 0) "u1" else s"u${i + 1}"
          s"""u${i + 2} AS (
             |  SELECT e.user_id, min(e.s) AS t FROM ev e
             |  JOIN $prev p ON e.user_id = p.user_id
             |  WHERE e.event_type = '$t' AND e.s > p.t
             |  GROUP BY e.user_id)""".stripMargin
        }.mkString(",\n")
        val unions = FunnelSteps.zipWithIndex.map { case (name, i) =>
          s"SELECT 'step${i + 1}_$name' AS step, count(*)::BIGINT AS n_users FROM u${i + 1}"
        }.mkString("\nUNION ALL\n")
        s"""WITH ev AS (
           |  SELECT user_id, event_type,
           |         epoch(date_trunc('second', ts))::BIGINT AS s
           |  FROM events),
           |u1 AS (SELECT user_id, min(s) AS t FROM ev
           |       WHERE event_type = '${FunnelSteps.head}' GROUP BY user_id),
           |$chain
           |SELECT step, n_users FROM ($unions) ORDER BY step""".stripMargin
      }),

    Q("q97_faceted_search",
      // ES-style faceted search: the per-facet breakdown of EVERY doc
      // matching the query (not just the top page) alongside its best
      // score — one partition-pruned index probe, one GROUPING SETS
      // pass (single shuffle for both facets; no union-of-groupBys).
      (s, dir) => {
        val hits = graft.index.SearchIndex.bm25(s, indexFor(s, dir),
          QueryText)
          .select(col("doc_id"), round(col("text_score"), 6).as("score"))
        val meta = Tables.documents(s, dir).select("doc_id", "lang", "source")
        hits.join(meta, "doc_id")
          .groupingSets(Seq(Seq(col("lang")), Seq(col("source"))),
            col("lang"), col("source"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            max("score").as("top_score"))
          .select(
            when(col("lang").isNotNull, "lang").otherwise("source")
              .as("facet"),
            coalesce(col("lang"), col("source")).as("value"),
            col("n_docs"), col("top_score"))
          .orderBy("facet", "value")
      },
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |posting AS (
         |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
         |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
         |       FROM posting GROUP BY doc_id, term, dl),
         |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
         |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
         |  FROM tf WHERE term IN (SELECT unnest($qtermsSql)) GROUP BY term),
         |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
         |  FROM dfreq, stats),
         |hits AS (
         |  SELECT doc_id, round(sum(
         |    idf.idf * tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6)
         |    AS score
         |  FROM tf JOIN idf ON tf.term = idf.term, stats
         |  GROUP BY doc_id),
         |j AS (SELECT h.doc_id, h.score, d.lang, d.source
         |      FROM hits h JOIN documents d USING (doc_id))
         |SELECT CASE WHEN lang IS NOT NULL THEN 'lang' ELSE 'source' END
         |    AS facet,
         |  coalesce(lang, source) AS value,
         |  count(*)::BIGINT AS n_docs, max(score) AS top_score
         |FROM j GROUP BY GROUPING SETS ((lang), (source))
         |ORDER BY facet, value""".stripMargin),

    Q("q98_hard_negatives",
      // contrastive-training pair mining: per query, the top BM25 hits
      // that are NOT labeled positives — the canonical hard-negative
      // set. Positives are a deterministic synthetic label (2% of
      // (query, doc) pairs via md5) standing in for a human-labeled
      // relation; the anti-join + re-rank runs over the k-bounded
      // candidate set (30 rows/query), never the corpus.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val isPos = TextFunctions.md5Long(
          concat(col("query_id").cast("string"), lit(":"),
            col("doc_id").cast("string"))) % 20 === 0
        val w = Window.partitionBy("query_id")
          .orderBy(col("text_score").desc, col("doc_id"))
        graft.index.SearchIndex.bm25Batch(s, indexFor(s, dir),
          BatchQueries, 30)
          .filter(!isPos)
          .withColumn("neg_rank", row_number().over(w).cast("long"))
          .filter(col("neg_rank") <= 10)
          .select("query_id", "doc_id", "text_score", "neg_rank")
          .orderBy("query_id", "neg_rank")
      },
      {
        val qtRows = BatchQueries.flatMap { case (qid, text) =>
          text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct
            .map(t => s"($qid, '$t')")
        }.mkString(", ")
        s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
           |posting AS (
           |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
           |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
           |       FROM posting GROUP BY doc_id, term, dl),
           |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
           |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
           |qt AS (SELECT * FROM (VALUES $qtRows) AS t(query_id, term)),
           |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
           |  FROM tf WHERE term IN (SELECT term FROM qt) GROUP BY term),
           |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
           |  FROM dfreq, stats),
           |scored AS (
           |  SELECT qt.query_id, tf.doc_id, round(sum(
           |    idf.idf * tf.tf * (1.2 + 1.0) /
           |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6)
           |    AS text_score
           |  FROM tf JOIN idf ON tf.term = idf.term
           |       JOIN qt ON qt.term = tf.term, stats
           |  GROUP BY qt.query_id, tf.doc_id),
           |cand AS (SELECT query_id, doc_id, text_score FROM (
           |  SELECT query_id, doc_id, text_score,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY text_score DESC, doc_id) AS rank
           |  FROM scored) WHERE rank <= 30),
           |neg AS (SELECT * FROM cand
           |  WHERE ${md5LongSql("query_id::VARCHAR || ':' || doc_id::VARCHAR")} % 20 <> 0),
           |rr AS (SELECT query_id, doc_id, text_score,
           |  row_number() OVER (PARTITION BY query_id
           |    ORDER BY text_score DESC, doc_id) AS neg_rank
           |  FROM neg)
           |SELECT query_id::BIGINT AS query_id, doc_id, text_score,
           |  neg_rank::BIGINT AS neg_rank
           |FROM rr WHERE neg_rank <= 10 ORDER BY query_id, neg_rank""".stripMargin
      }),

    Q("q105_fuzzy_bm25",
      // ES fuzziness=1: typo'd query terms expand against the index
      // DICTIONARY (vocabulary-scale scan, never the postings) within
      // Levenshtein 1, then score through the standard partition-pruned
      // BM25 path. "sparc merg windw" → spark, merge, window (+ any
      // other vocab within one edit).
      (s, dir) => graft.index.SearchIndex.bm25Fuzzy(s, indexFor(s, dir),
        "sparc merg windw", maxEdits = 1)
        .select(col("doc_id"), round(col("text_score"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(20),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |posting AS (
         |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
         |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
         |       FROM posting GROUP BY doc_id, term, dl),
         |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
         |dict AS (SELECT DISTINCT term FROM posting),
         |qt AS (SELECT unnest(['sparc', 'merg', 'windw']) AS qterm),
         |exp AS (SELECT DISTINCT term FROM dict JOIN qt
         |        ON levenshtein(term, qterm) <= 1),
         |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
         |  FROM tf WHERE term IN (SELECT term FROM exp) GROUP BY term),
         |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
         |  FROM dfreq, stats),
         |scored AS (
         |  SELECT doc_id, round(sum(
         |    idf.idf * tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6)
         |    AS bm25
         |  FROM tf JOIN idf ON tf.term = idf.term, stats
         |  GROUP BY doc_id)
         |SELECT doc_id, bm25 FROM scored
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),

    Q("q106_highlights",
      // ES-style highlighting: for each top-10 BM25 hit, the snippet
      // around the FIRST occurrence of any query term (±3/+4 token
      // window) plus its position — computed with pure array algebra on
      // the hit rows only (10 docs), never a corpus pass. try_element_at
      // / nullif(array_position, 0): ANSI-safe absent-term handling.
      (s, dir) => {
        val qterms = QueryTerms.toSeq
        val hits = graft.index.SearchIndex.bm25(s, indexFor(s, dir),
          QueryText)
          .select(col("doc_id"), round(col("text_score"), 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id").asc).limit(10)
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("l"))
        val firstPos = qterms.map(t =>
            nullif(array_position(col("l"), lit(t)), lit(0L)))
          .reduce((a, b) => least(a, b))
        hits.join(toks, "doc_id")
          .withColumn("pos", firstPos.cast("long"))
          .select(col("doc_id"), col("bm25"), col("pos"),
            array_join(slice(col("l"),
              greatest(col("pos").cast("int") - 3, lit(1)), lit(8)), " ")
              .as("snippet"))
          .orderBy(col("bm25").desc, col("doc_id").asc)
      },
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |posting AS (
         |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
         |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
         |       FROM posting GROUP BY doc_id, term, dl),
         |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
         |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
         |  FROM tf WHERE term IN (SELECT unnest($qtermsSql)) GROUP BY term),
         |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
         |  FROM dfreq, stats),
         |scored AS (
         |  SELECT doc_id, round(sum(
         |    idf.idf * tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6)
         |    AS bm25
         |  FROM tf JOIN idf ON tf.term = idf.term, stats
         |  GROUP BY doc_id),
         |hits AS (SELECT doc_id, bm25 FROM scored
         |         ORDER BY bm25 DESC, doc_id LIMIT 10),
         |pos AS (SELECT h.doc_id, h.bm25, t.l,
         |    list_min([p for p in [list_position(t.l, q)
         |                          for q in $qtermsSql] if p IS NOT NULL])
         |      AS pos
         |  FROM hits h JOIN toks t USING (doc_id))
         |SELECT doc_id, bm25, pos::BIGINT AS pos,
         |  array_to_string(l[greatest(pos - 3, 1):greatest(pos - 3, 1) + 7],
         |    ' ') AS snippet
         |FROM pos ORDER BY bm25 DESC, doc_id""".stripMargin),

    Q("q107_significant_terms",
      // ES significant_terms: terms over-represented in the docs
      // matching 'dup' (foreground found by a pruned postings probe;
      // term vectors re-read for |fg| docs only via broadcast join)
      // vs the corpus background (index dictionary + stats — no second
      // corpus pass). JLH lift, positive-lift terms only.
      (s, dir) => graft.index.SearchIndex.significantTerms(
        s, indexFor(s, dir), Tables.documents(s, dir), "dup", topN = 10),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |p AS (SELECT DISTINCT doc_id, unnest(l) AS term FROM toks),
         |fg AS (SELECT DISTINCT doc_id FROM p WHERE term = 'dup'),
         |fgv AS (SELECT p.term, count(*) AS fg_df
         |        FROM p JOIN fg USING (doc_id) GROUP BY p.term),
         |nn AS (SELECT (SELECT count(*) FROM fg) AS fg_n,
         |       (SELECT count(*) FROM documents)::DOUBLE AS n_docs),
         |bg AS (SELECT term, count(*)::DOUBLE AS bg_df FROM p GROUP BY term)
         |SELECT term, fg_df::BIGINT AS fg_df, bg_df::BIGINT AS bg_df,
         |  round((fg_df / fg_n - bg_df / n_docs) * (fg_df / fg_n)
         |        / (bg_df / n_docs), 6) AS sig
         |FROM fgv JOIN bg USING (term), nn
         |WHERE term <> 'dup' AND fg_df / fg_n > bg_df / n_docs
         |ORDER BY sig DESC, term LIMIT 10""".stripMargin),

    Q("q108_more_like_this",
      // ES more_like_this: seed doc 1's top-5 tf·idf terms (driver-side
      // planning over ONE doc + a bucket-pruned dictionary lookup) feed
      // the standard indexed BM25, seed excluded from results.
      (s, dir) => graft.index.SearchIndex.moreLikeThis(
        s, indexFor(s, dir), Tables.documents(s, dir), seedDocId = 1L,
        maxTerms = 5)
        .select(col("doc_id"), round(col("text_score"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(10),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |posting AS (
         |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
         |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
         |       FROM posting GROUP BY doc_id, term, dl),
         |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
         |seed AS (SELECT term, count(*)::DOUBLE AS tf FROM posting
         |         WHERE doc_id = 1 GROUP BY term),
         |bgdf AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
         |         FROM posting GROUP BY term),
         |sel AS (SELECT s.term FROM seed s JOIN bgdf d USING (term), stats
         |        ORDER BY s.tf * ln(1 + (stats.n - d.df + 0.5) / (d.df + 0.5))
         |          DESC, s.term LIMIT 5),
         |dfreq AS (SELECT term, df FROM bgdf
         |          WHERE term IN (SELECT term FROM sel)),
         |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
         |  FROM dfreq, stats),
         |scored AS (
         |  SELECT doc_id, round(sum(
         |    idf.idf * tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6)
         |    AS bm25
         |  FROM tf JOIN idf ON tf.term = idf.term, stats
         |  GROUP BY doc_id)
         |SELECT doc_id, bm25 FROM scored WHERE doc_id <> 1
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin),

    Q("q109_search_after",
      // ES search_after keyset pagination: page 3 (ranks 21-30) of the
      // standard ranking via the (bm25, doc_id) cursor of rank 20 —
      // page cost independent of depth (same pruned probe + one
      // TakeOrdered of pageSize; no OFFSET prefix materialization).
      // The cursor fetch is a driver-side 20-row TakeOrdered, i.e. the
      // client handing back the last row of the previous page.
      (s, dir) => {
        val idx = indexFor(s, dir)
        val cur = graft.index.SearchIndex.bm25(s, idx, QueryText)
          .select(col("doc_id"), round(col("text_score"), 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
          .collect().last
        graft.index.SearchIndex.searchAfter(s, idx, QueryText,
          cur.getDouble(1), cur.getLong(0), pageSize = 10)
      },
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |posting AS (
         |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
         |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
         |       FROM posting GROUP BY doc_id, term, dl),
         |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
         |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
         |  FROM tf WHERE term IN (SELECT unnest($qtermsSql)) GROUP BY term),
         |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
         |  FROM dfreq, stats),
         |ranked AS (
         |  SELECT doc_id, round(sum(
         |    idf.idf * tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6)
         |    AS bm25
         |  FROM tf JOIN idf ON tf.term = idf.term, stats
         |  GROUP BY doc_id),
         |cur AS (SELECT bm25, doc_id FROM ranked
         |        ORDER BY bm25 DESC, doc_id LIMIT 1 OFFSET 19)
         |SELECT r.doc_id, r.bm25 FROM ranked r, cur c
         |WHERE r.bm25 < c.bm25 OR (r.bm25 = c.bm25 AND r.doc_id > c.doc_id)
         |ORDER BY r.bm25 DESC, r.doc_id LIMIT 10""".stripMargin),

    Q("q110_suggest",
      // ES completion suggester: dictionary-only prefix match ranked by
      // docfreq — vocabulary-scale scan, metadata-scale result; the
      // postings (corpus-scale) are never touched.
      (s, dir) => graft.index.SearchIndex.suggest(
        s, indexFor(s, dir), "s", n = 5),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |p AS (SELECT DISTINCT doc_id, unnest(l) AS term FROM toks)
         |SELECT term, count(*)::BIGINT AS df FROM p
         |WHERE term LIKE 's%' GROUP BY term
         |ORDER BY df DESC, term LIMIT 5""".stripMargin),

    Q("q118_bool_search",
      // ES bool DSL on the persisted index: must (required + scored),
      // should (optional + scored, minimum_should_match), filter
      // (required, UNscored — filter context), must_not (excluded). ONE
      // pruned postings probe; score and every clause flag come out of a
      // single per-doc aggregate, so must_not costs a flag test, never a
      // second anti-join pass over the index.
      (s, dir) => graft.index.SearchIndex.boolSearch(s, indexFor(s, dir),
        must = BoolMust, should = BoolShould, mustNot = BoolNot,
        filterTerms = BoolFilter, minimumShouldMatch = 2),
      {
        def inList(ts: Seq[String]) = ts.map(t => s"'$t'").mkString(", ")
        val scoring = inList((BoolMust ++ BoolShould).distinct)
        s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
           |posting AS (
           |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
           |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
           |       FROM posting GROUP BY doc_id, term, dl),
           |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
           |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
           |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
           |  FROM tf WHERE term IN ($scoring) GROUP BY term),
           |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
           |  FROM dfreq, stats),
           |sc AS (SELECT tf.doc_id, sum(
           |    idf.idf * tf.tf * (1.2 + 1.0) /
           |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))) AS raw
           |  FROM tf JOIN idf ON tf.term = idf.term, stats GROUP BY tf.doc_id),
           |flags AS (SELECT doc_id,
           |    count(DISTINCT CASE WHEN term IN (${inList(BoolMust)})
           |      THEN term END) AS n_must,
           |    count(DISTINCT CASE WHEN term IN (${inList(BoolShould)})
           |      THEN term END) AS n_should,
           |    count(DISTINCT CASE WHEN term IN (${inList(BoolFilter)})
           |      THEN term END) AS n_filter,
           |    count(DISTINCT CASE WHEN term IN (${inList(BoolNot)})
           |      THEN term END) AS n_not
           |  FROM tf GROUP BY doc_id)
           |SELECT f.doc_id, round(sc.raw, 6) AS score
           |FROM flags f JOIN sc ON sc.doc_id = f.doc_id
           |WHERE f.n_must = ${BoolMust.size} AND f.n_filter = ${BoolFilter.size}
           |  AND f.n_should >= 2 AND f.n_not = 0
           |ORDER BY score DESC, f.doc_id LIMIT 10""".stripMargin
      }),

    Q("q119_indexed_proximity",
      // positional-index twin of q74 (ES match + slop served from the
      // persisted index): pruned probe over the query terms' position
      // buckets, then the shared anchor-window algebra — identical
      // semantics, index-probe cost (q80 : q67 :: q119 : q74).
      (s, dir) => graft.index.SearchIndex.proximity(s, indexFor(s, dir),
        ProximityQuery, ProximitySlop)
        .select(col("doc_id"),
          col("n_windows").cast("long").as("n_windows"))
        .orderBy("doc_id"),
      null), // oracle assigned below: identical to q74's

    Q("q120_function_score",
      // ES function_score (field_value_factor on n_chars, modifier
      // log1p-style, boost_mode multiply): BM25 from the pruned index
      // probe × ln(1 + n_chars/100) from the doc store. The fetch-phase
      // join touches only the term-pruned candidate set — never a
      // corpus-scale join.
      (s, dir) => graft.index.SearchIndex.bm25(s, indexFor(s, dir), QueryText)
        .join(Tables.documents(s, dir).select("doc_id", "n_chars"), "doc_id")
        .select(col("doc_id"),
          round(col("text_score") *
            log(lit(1.0) + col("n_chars") / lit(100.0)), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(10),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |posting AS (
         |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
         |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
         |       FROM posting GROUP BY doc_id, term, dl),
         |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
         |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
         |  FROM tf WHERE term IN (SELECT unnest($qtermsSql)) GROUP BY term),
         |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
         |  FROM dfreq, stats),
         |sc AS (SELECT tf.doc_id, sum(
         |    idf.idf * tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))) AS raw
         |  FROM tf JOIN idf ON tf.term = idf.term, stats GROUP BY tf.doc_id)
         |SELECT d.doc_id, round(sc.raw * ln(1.0 + d.n_chars / 100.0), 6) AS score
         |FROM sc JOIN documents d ON d.doc_id = sc.doc_id
         |ORDER BY score DESC, d.doc_id LIMIT 10""".stripMargin),

    Q("q121_index_stats",
      // ES _stats/_count parity: corpus statistics FROM THE INDEX (stats
      // row + dictionary aggregate — vocabulary-scale, zero postings or
      // corpus I/O); the oracle recomputes the same numbers from the raw
      // documents.
      (s, dir) => graft.index.SearchIndex.indexStats(s, indexFor(s, dir)),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |p AS (SELECT DISTINCT doc_id, unnest(l) AS term FROM toks),
         |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p GROUP BY term)
         |SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         |  (SELECT round(avg(len(l)), 6) FROM toks) AS avgdl,
         |  (SELECT count(*) FROM dfreq)::BIGINT AS n_terms,
         |  (SELECT sum(df) FROM dfreq)::BIGINT AS n_postings,
         |  (SELECT max(df) FROM dfreq)::BIGINT AS max_df""".stripMargin),

    Q("q123_ivfpq_knn",
      // IVF-PQ composite (the FAISS IndexIVFPQ shape): coarse cells
      // bound the scan, residual-trained PQ codes bound the bytes. Full
      // probe (nProbe = nCells) + a CORPUS-SIZED shortlist (derived from
      // the live count, exhaustive at any sf) + exact rerank is
      // exactly brute force — same
      // oracle discipline as q46/q99; the production knobs (nProbe <
      // nCells, tight numCandidates) are gated by IvfPqSpec's measured
      // recall ladder instead.
      (s, dir) => graft.index.IvfPqIndex.knn(s, ivfpqFor(s, dir), QueryVec,
        10, nProbe = 8,
        numCandidates = Tables.embeddings(s, dir).count().toInt),
      s"""SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
         |FROM embeddings ORDER BY vec_score DESC, doc_id LIMIT 10""".stripMargin),

    Q("q127_ivfpq_batch_knn",
      // N queries, ONE pass over the IVF-PQ composite: per-query probe
      // cells + q·centroid and the N×m×nCodes residual ADC tables ride
      // in broadcast relations/literals; per-query shortlist and top-k
      // are k-bounded aggs (no window). Exhaustive knobs (full probe,
      // corpus-sized shortlist from the live count) ⇒ the oracle is per-query brute force —
      // q93's discipline; production knobs are gated by IvfPqSpec.
      (s, dir) => graft.index.IvfPqIndex.knnBatch(s, ivfpqFor(s, dir),
        BatchQueries.map { case (qid, t) => qid -> Embedder.embed(t) },
        10, nProbe = 8,
        numCandidates = Tables.embeddings(s, dir).count().toInt)
        .orderBy("query_id", "rank"),
      {
        val branches = BatchQueries.map { case (qid, t) =>
          val qv = Embedder.embed(t)
          s"""SELECT $qid::BIGINT AS query_id, vec_id AS doc_id,
             |    round(${cosSqlFor(qv)}, 6) AS vec_score
             |  FROM embeddings""".stripMargin
        }.mkString("\n  UNION ALL\n")
        s"""WITH cands AS (
           |$branches),
           |ranked AS (SELECT query_id, doc_id, vec_score,
           |  row_number() OVER (PARTITION BY query_id
           |    ORDER BY vec_score DESC, doc_id) AS rank
           |  FROM cands)
           |SELECT query_id, doc_id, vec_score, rank::BIGINT AS rank
           |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
      }),

    Q("q128_wildcard_bm25",
      // ES `wildcard` query: the pattern expands against the index
      // DICTIONARY (vocabulary-scale scan, never the postings; ES-style
      // maxExpansions cap in term order), then scores through the
      // standard partition-pruned BM25 probe. "s?a*" → scan, small,
      // spark on the fixture vocabulary.
      (s, dir) => graft.index.SearchIndex.bm25Wildcard(s, indexFor(s, dir),
        "s?a*")
        .select(col("doc_id"), round(col("text_score"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(20),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |posting AS (
         |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
         |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
         |       FROM posting GROUP BY doc_id, term, dl),
         |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
         |dict AS (SELECT DISTINCT term FROM posting),
         |exp AS (SELECT term FROM dict WHERE term LIKE 's_a%'
         |        ORDER BY term LIMIT 50),
         |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
         |  FROM tf WHERE term IN (SELECT term FROM exp) GROUP BY term),
         |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
         |  FROM dfreq, stats),
         |scored AS (
         |  SELECT doc_id, round(sum(
         |    idf.idf * tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))), 6)
         |    AS bm25
         |  FROM tf JOIN idf ON tf.term = idf.term, stats
         |  GROUP BY doc_id)
         |SELECT doc_id, bm25 FROM scored
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),

    Q("q129_phrase_prefix",
      // ES `match_phrase_prefix`: leading terms exact, last term a
      // dictionary-expanded prefix (maxExpansions cap), one pruned
      // positions probe + the phrase start-alignment algebra with all
      // expansions sharing the last slot. "merge s" → merge followed
      // immediately by any s-term.
      (s, dir) => graft.index.SearchIndex.phrasePrefix(s, indexFor(s, dir),
        "merge s")
        .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |pp AS (SELECT doc_id, unnest(l) AS term,
         |         generate_subscripts(l, 1) AS pos FROM toks),
         |dict AS (SELECT DISTINCT term FROM pp),
         |exp AS (SELECT term FROM dict WHERE term LIKE 's%'
         |        ORDER BY term LIMIT 50),
         |ph AS (SELECT 'merge' AS term, 0 AS idx
         |       UNION ALL SELECT term, 1 FROM exp),
         |st AS (SELECT pp.doc_id, pp.pos - ph.idx AS start
         |       FROM pp JOIN ph USING (term)
         |       GROUP BY pp.doc_id, pp.pos - ph.idx
         |       HAVING count(DISTINCT ph.idx) = 2)
         |SELECT doc_id, count(*)::BIGINT AS n_occurrences
         |FROM st GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Q("q130_bigram_perplexity",
      // interpolated bigram LM perplexity — the CCNet/KenLM quality
      // filter (q102's unigram proxy upgraded to the real conditional
      // form): both engines fit the identical LM from the corpus (the
      // counts ARE the model), so the oracle needs no external state.
      (s, dir) => TextAnalysis.bigramPerplexity(
        Tables.documents(s, dir), "doc_id", "text", lambda = 0.75)
        .orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |tok AS (SELECT doc_id, unnest(l) AS t FROM toks),
         |c1 AS (SELECT t, count(*)::DOUBLE AS c1 FROM tok GROUP BY t),
         |tot AS (SELECT count(*)::DOUBLE AS n FROM tok),
         |bi AS (SELECT doc_id, l[i] AS u, l[i + 1] AS v
         |       FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i
         |             FROM toks)),
         |c2 AS (SELECT u, v, count(*)::DOUBLE AS c2 FROM bi GROUP BY u, v),
         |cctx AS (SELECT u, count(*)::DOUBLE AS cu FROM bi GROUP BY u),
         |ev AS (SELECT bi.doc_id,
         |         ln(0.75 * c2.c2 / cctx.cu + 0.25 * c1.c1 / tot.n) AS lp
         |       FROM bi JOIN c2 USING (u, v) JOIN cctx USING (u)
         |            JOIN c1 ON c1.t = bi.v, tot)
         |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |  round(avg(lp), 6) AS avg_logprob,
         |  round(exp(-avg(lp)), 6) AS ppl
         |FROM ev GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Q("q131_semdedup",
      // SemDeDup (Abbas et al. 2023): nearest-anchor cells bound the
      // pair generation (the paper's k-means clusters), within-cell
      // cosine >= tau edges, connected-components grouping, keep = min
      // id per group. The oracled configuration uses deterministic
      // md5-ordered anchor vectors (8 rows collected — model state,
      // like q66's codebook); the MLlib-fitted path is the same
      // operator with learned centroids (SemDedupSpec pins it).
      (s, dir) => {
        val embs = Tables.embeddings(s, dir)
        val anchors = embs
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
          .limit(8).select("embedding")
          .collect().map(_.getSeq[Float](0).toArray).toSeq
        Dedup.semDedup(embs, "vec_id", "embedding", anchors, tau = 0.2)
          .select(col("id").as("vec_id"), col("cell"),
            col("cluster_id"), col("keep"))
          .orderBy("vec_id")
      },
      {
        val cosAB = {
          val dot = "list_dot_product(va::DOUBLE[], vb::DOUBLE[])"
          val na  = "sqrt(list_dot_product(va::DOUBLE[], va::DOUBLE[]))"
          val nb  = "sqrt(list_dot_product(vb::DOUBLE[], vb::DOUBLE[]))"
          s"(CASE WHEN $na = 0 OR $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END)"
        }
        val sq = "(e.embedding[i]::DOUBLE - a.c[i]::DOUBLE)"
        s"""WITH RECURSIVE
           |anchors AS (
           |  SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR),
           |            vec_id) - 1)::INT AS cell, embedding AS c
           |  FROM embeddings
           |  QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR),
           |            vec_id) <= 8),
           |assigned AS (
           |  SELECT vec_id AS id, embedding AS v, cell FROM (
           |    SELECT e.vec_id, e.embedding, a.cell,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY round(list_sum([$sq * $sq
           |                   for i in range(1, ${EmbedDim + 1})]), 6),
           |          a.cell) AS rn
           |    FROM embeddings e, anchors a)
           |  WHERE rn = 1),
           |pairs AS (
           |  SELECT a, b FROM (
           |    SELECT l.id AS a, r.id AS b, l.v AS va, r.v AS vb
           |    FROM assigned l JOIN assigned r
           |      ON l.cell = r.cell AND l.id < r.id)
           |  WHERE round($cosAB, 6) >= 0.2),
           |edges AS (SELECT a AS src, b AS dst FROM pairs
           |          UNION SELECT b, a FROM pairs),
           |cc(node, label) AS (
           |  SELECT id, id FROM assigned
           |  UNION
           |  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src),
           |lab AS (SELECT node AS id, min(label) AS cluster_id
           |        FROM cc GROUP BY node)
           |SELECT a2.id AS vec_id, a2.cell,
           |  lab.cluster_id::BIGINT AS cluster_id,
           |  (a2.id = lab.cluster_id) AS keep
           |FROM assigned a2 JOIN lab USING (id)
           |ORDER BY vec_id""".stripMargin
      }),

    Q("q132_binary_knn",
      // 1-bit quantized ANN (the Lucene/ES "BBQ" shape): sign-of-mean
      // bit signatures packed 32 dims per BIGINT word; ASYMMETRIC
      // scoring (query stays float against the doc sign words), then
      // exact-cosine rerank. The oracle replicates the FULL pipeline
      // (decimal-exact means make the bit patterns engine-identical,
      // per-word sums associate identically) — q66's discipline; recall
      // floors are RecallFloorSpec's job.
      (s, dir) => VectorSearch.binaryQuantizedTopK(Tables.embeddings(s, dir),
        "vec_id", "embedding", QueryVec, 10, EmbedDim, numCandidates = 50),
      {
        def word(v: String, lo: Int) = // 32 bits of v's sign pattern
          s"""list_sum([CASE WHEN $v > ms[i] THEN
             |      (1::BIGINT << (i - ${lo + 1})) ELSE 0::BIGINT END
             |    for i in range(${lo + 1}, ${lo + 33})])::BIGINT""".stripMargin
        def wsum(b: String, lo: Int) = // asymmetric partial sum of word b
          s"""list_sum([CASE WHEN (($b >> (i - ${lo + 1})) & 1) = 1
             |      THEN ($qvSql)[i] - ms[i] ELSE 0.0 END
             |    for i in range(${lo + 1}, ${lo + 33})])""".stripMargin
        s"""WITH pe AS (
           |  SELECT unnest(embedding)::DOUBLE AS v,
           |         generate_subscripts(embedding, 1) AS pos
           |  FROM embeddings),
           |mm AS (SELECT pos,
           |    round(sum(round(v, 6)::DECIMAL(28,12))::DOUBLE / count(*), 6)
           |      AS m
           |  FROM pe GROUP BY pos),
           |ms AS (SELECT list(m ORDER BY pos) AS ms FROM mm),
           |bits AS (
           |  SELECT vec_id, embedding,
           |    ${word("embedding[i]::DOUBLE", 0)} AS b0,
           |    ${word("embedding[i]::DOUBLE", 32)} AS b1
           |  FROM embeddings, ms),
           |cand AS (
           |  SELECT vec_id, embedding,
           |    round(${wsum("b0", 0)} + ${wsum("b1", 32)}, 6) AS bq_score
           |  FROM bits, ms
           |  ORDER BY bq_score DESC, vec_id LIMIT 50)
           |SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
           |FROM cand
           |ORDER BY vec_score DESC, doc_id LIMIT 10""".stripMargin
      }),

    Q("q133_quality_classifier",
      // model-based quality filtering (the fastText-classifier stage of
      // GPT-3/LLaMA-style pipelines): sigmoid(b + w·f) over portable
      // text features with FROZEN trained coefficients — model state,
      // like q24's query embedding. Training is QualityClassifier.train
      // (MLlib LR, spec-pinned); scoring is one shuffle-free scan that
      // both engines reproduce bit-for-bit.
      (s, dir) => graft.pipeline.QualityClassifier.score(
        Tables.documents(s, dir), "doc_id", "text", QcWeights, QcIntercept)
        .orderBy("doc_id"),
      {
        val mkSql = TextAnalysis.Stopwords.toMap.apply("en")
          .map(m => s"'$m'").mkString("[", ",", "]")
        val w = QcWeights.map(dec)
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS l FROM documents),
           |f AS (SELECT doc_id,
           |    ln(1.0 + length(text)::DOUBLE) AS f1,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE length(regexp_replace(text, '[^A-Za-z0-9]', '',
           |                'g'))::DOUBLE / length(text)::DOUBLE END AS f2,
           |    length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
           |      / greatest(len(l)::DOUBLE, 1.0) AS f3,
           |    CASE WHEN len(l) = 0 THEN 0.0
           |         ELSE length(regexp_replace(text, '[^A-Za-z0-9]', '',
           |                'g'))::DOUBLE / len(l)::DOUBLE END AS f4,
           |    CASE WHEN len(l) = 0 THEN 0.0
           |         ELSE len(list_intersect(l, $mkSql))::DOUBLE
           |              / len(list_distinct(l))::DOUBLE END AS f5
           |  FROM t),
           |z AS (SELECT doc_id,
           |    (${dec(QcIntercept)} + ${w(0)} * f1 + ${w(1)} * f2
           |      + ${w(2)} * f3 + ${w(3)} * f4 + ${w(4)} * f5) AS z FROM f),
           |p AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6)
           |        AS quality_p FROM z)
           |SELECT doc_id, quality_p, (quality_p >= 0.5) AS keep
           |FROM p ORDER BY doc_id""".stripMargin
      }),

    Q("q134_semdedup_incremental",
      // incremental SemDeDup: the new batch (vec_id % 5 == 0) dedups
      // against the existing corpus (same-cell cosine >= tau — ONE
      // cell-key join, the corpus is never re-paired), then survivors
      // group among themselves — q71's minhash-band shape in embedding
      // space. Same frozen md5-ordered anchors as q131.
      (s, dir) => {
        val embs = Tables.embeddings(s, dir)
        val anchors = embs
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
          .limit(8).select("embedding")
          .collect().map(_.getSeq[Float](0).toArray).toSeq
        Dedup.semDedupIncremental(
          embs.filter(col("vec_id") % 5 =!= 0),
          embs.filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding", anchors, tau = 0.2)
          .select(col("id").as("vec_id"), col("cell"),
            col("dup_of_corpus"), col("cluster_id"), col("keep"))
          .orderBy("vec_id")
      },
      {
        val cosAB = {
          val dot = "list_dot_product(va::DOUBLE[], vb::DOUBLE[])"
          val na  = "sqrt(list_dot_product(va::DOUBLE[], va::DOUBLE[]))"
          val nb  = "sqrt(list_dot_product(vb::DOUBLE[], vb::DOUBLE[]))"
          s"(CASE WHEN $na = 0 OR $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END)"
        }
        val sq = "(e.embedding[i]::DOUBLE - a.c[i]::DOUBLE)"
        s"""WITH RECURSIVE
           |anchors AS (
           |  SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR),
           |            vec_id) - 1)::INT AS cell, embedding AS c
           |  FROM embeddings
           |  QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR),
           |            vec_id) <= 8),
           |asg AS (
           |  SELECT vec_id AS id, embedding AS v, cell FROM (
           |    SELECT e.vec_id, e.embedding, a.cell,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY round(list_sum([$sq * $sq
           |                   for i in range(1, ${EmbedDim + 1})]), 6),
           |          a.cell) AS rn
           |    FROM embeddings e, anchors a)
           |  WHERE rn = 1),
           |ex AS (SELECT * FROM asg WHERE id % 5 != 0),
           |ba AS (SELECT * FROM asg WHERE id % 5 = 0),
           |vs AS (
           |  SELECT id, cell, coalesce(bool_or(hit), false)
           |           AS dup_of_corpus
           |  FROM (
           |    SELECT b.id, b.cell,
           |      round($cosAB, 6) >= 0.2 AS hit
           |    FROM (SELECT id, cell, v AS va FROM ba) b
           |    LEFT JOIN (SELECT cell, v AS vb FROM ex) x USING (cell))
           |  GROUP BY id, cell),
           |sur AS (SELECT vs.id, vs.cell, ba.v
           |        FROM vs JOIN ba ON vs.id = ba.id
           |        WHERE NOT vs.dup_of_corpus),
           |pairs AS (
           |  SELECT a, b FROM (
           |    SELECT l.id AS a, r.id AS b, l.v AS va, r.v AS vb
           |    FROM sur l JOIN sur r ON l.cell = r.cell AND l.id < r.id)
           |  WHERE round($cosAB, 6) >= 0.2),
           |edges AS (SELECT a AS src, b AS dst FROM pairs
           |          UNION SELECT b, a FROM pairs),
           |cc(node, label) AS (
           |  SELECT id, id FROM sur
           |  UNION
           |  SELECT e2.dst, cc.label FROM cc JOIN edges e2
           |    ON cc.node = e2.src),
           |lab AS (SELECT node AS id, min(label) AS cluster_id
           |        FROM cc GROUP BY node)
           |SELECT vs.id AS vec_id, vs.cell, vs.dup_of_corpus,
           |  coalesce(lab.cluster_id, vs.id)::BIGINT AS cluster_id,
           |  (NOT vs.dup_of_corpus AND lab.cluster_id = vs.id) AS keep
           |FROM vs LEFT JOIN lab ON vs.id = lab.id
           |ORDER BY vec_id""".stripMargin
      }),

    Q("q99_pq_knn",
      // product-quantized ANN: ADC shortlist over the 8-codes-per-vector
      // column (the fat embedding column is never read in the scan),
      // exact-cosine rerank. Oracled at q123's discipline — shortlist
      // is CORPUS-SIZED (derived from the live count, exhaustive at any
      // sf), so rerank makes the top-10 exactly brute force (q24's oracle). A TIGHT shortlist is
      // NOT oracle-safe: codebook training is partitioning-sensitive
      // (k-means|| init), and 128-of-500 measurably loses a top-10 row
      // on this fixture under some codebooks. Production shortlists
      // (the corpus-scaled auto default) are gated by RecallFloorSpec
      // floors instead, at two corpus sizes.
      (s, dir) => graft.index.PqIndex.knn(s, pqFor(s, dir), QueryVec,
        10, numCandidates = Tables.embeddings(s, dir).count().toInt),
      s"""SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
         |FROM embeddings ORDER BY vec_score DESC, doc_id LIMIT 10""".stripMargin),

    Q("q149_rare_terms",
      // ES `rare_terms` aggregation — the long-tail complement of
      // `terms`: the rarest dictionary entries, rarest first. Served
      // entirely from the index DICTIONARY (vocabulary-scale, zero
      // postings/corpus I/O, the q110 argument); the synthetic
      // fixture's vocabulary has no absolute-df long tail, so the
      // registry pins the rank form and SearchIndexSpec pins the
      // max_doc_count filter semantics.
      (s, dir) => graft.index.SearchIndex.rareTerms(s, indexFor(s, dir),
        maxDf = Long.MaxValue, size = 10),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |p AS (SELECT DISTINCT doc_id, unnest(l) AS term FROM toks),
         |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM p GROUP BY term)
         |SELECT term, df FROM dfreq ORDER BY df, term LIMIT 10""".stripMargin),

    Q("q150_dismax_boosting",
      // ES `dis_max` + `boosting` composed on the persisted index: two
      // query clauses each score as their BM25 sum, base =
      // max + 0.3·(sum − max), and docs containing the negative term
      // are DEMOTED ×0.5 (boosting's demote-don't-exclude — contrast
      // q118's must_not). ONE pruned postings probe over all clause +
      // negative terms; per-clause sums and the negative flag come out
      // of a single per-doc aggregate.
      (s, dir) => graft.index.SearchIndex.disMax(s, indexFor(s, dir),
        clauses = Seq(QueryTerms.toSeq, DisMaxClause2),
        tieBreaker = 0.3, negative = Seq(DisMaxNegative),
        negativeBoost = 0.5),
      {
        def inList(ts: Seq[String]) = ts.map(t => s"'$t'").mkString(", ")
        val scoring = inList((QueryTerms ++ DisMaxClause2).distinct)
        s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
           |posting AS (
           |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term FROM toks),
           |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
           |       FROM posting GROUP BY doc_id, term, dl),
           |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
           |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl),
           |dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
           |  FROM tf WHERE term IN ($scoring) GROUP BY term),
           |idf AS (SELECT term, ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
           |  FROM dfreq, stats),
           |ts AS (SELECT tf.doc_id, tf.term,
           |    idf.idf * tf.tf * (1.2 + 1.0) /
           |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS s
           |  FROM tf JOIN idf ON tf.term = idf.term, stats),
           |sc AS (SELECT doc_id,
           |    coalesce(sum(CASE WHEN term IN (${inList(QueryTerms.toSeq)})
           |      THEN s END), 0.0) AS s0,
           |    coalesce(sum(CASE WHEN term IN (${inList(DisMaxClause2)})
           |      THEN s END), 0.0) AS s1
           |  FROM ts GROUP BY doc_id),
           |neg AS (SELECT doc_id,
           |    max(CASE WHEN term = '$DisMaxNegative' THEN 1 ELSE 0 END) AS ng
           |  FROM tf GROUP BY doc_id)
           |SELECT sc.doc_id,
           |  round((greatest(s0, s1) + 0.3 * (s0 + s1 - greatest(s0, s1))) *
           |    (CASE WHEN ng = 1 THEN 0.5 ELSE 1.0 END), 6) AS score
           |FROM sc JOIN neg ON sc.doc_id = neg.doc_id
           |WHERE s0 > 0 OR s1 > 0
           |ORDER BY score DESC, sc.doc_id LIMIT 10""".stripMargin
      })
  )

  /** Fuzzy dedup: simhash candidates verified by Levenshtein over the
    * first 80 chars (standard DP edit distance — identical integers in
    * any engine). (lazy: referenced by the registry val above) */
  private lazy val q81 = Q("q81_fuzzy_verified_pairs",
    (s, dir) => Dedup.editDistanceVerifiedPairs(Tables.documents(s, dir),
      "doc_id", "text", prefixLen = 80, maxDist = 20).orderBy("a", "b"),
    {
      val bits = (0 until Dedup.SimHashBits).map { i =>
        s"(CASE WHEN list_sum([((h >> $i) & 1) * 2 - 1 for h in hs])" +
          s" > 0 THEN ${1L << i}::BIGINT ELSE 0::BIGINT END)"
      }.mkString(" + ")
      s"""WITH sigs AS (
         |  SELECT doc_id, ($bits)::BIGINT AS sim
         |  FROM (SELECT doc_id, [${md5LongSql("t")} for t in $toksSql] AS hs
         |        FROM documents)),
         |quarters AS (
         |  SELECT doc_id, sim, q, (sim >> (q * 15)) & ${(1L << 15) - 1} AS v
         |  FROM sigs, unnest([0, 1, 2, 3]) AS t(q)),
         |ok AS (SELECT q, v FROM quarters GROUP BY q, v
         |       HAVING count(DISTINCT doc_id) <= ${Dedup.MaxGroupSize}),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM quarters l JOIN quarters r ON l.q = r.q AND l.v = r.v
         |  JOIN ok ON ok.q = l.q AND ok.v = l.v
         |  WHERE l.doc_id < r.doc_id
         |    AND bit_count(xor(l.sim, r.sim)) <= 3),
         |pref AS (SELECT doc_id, substr(text, 1, 80) AS p FROM documents)
         |SELECT a, b, levenshtein(pa.p, pb.p)::INT AS edit_dist
         |FROM cand
         |JOIN pref pa ON pa.doc_id = a
         |JOIN pref pb ON pb.doc_id = b
         |WHERE levenshtein(pa.p, pb.p) <= 20
         |ORDER BY a, b""".stripMargin
    })

  /** Hopping-window (1 h length, 30 min hop) distinct users per window —
    * exact count next to the KMV estimate: the shape a streaming
    * dashboard runs at 100 TB, where exact per-window distinct is the
    * thing you replace with the sketch. Every event lands in exactly two
    * windows (explode of two grid starts); all arithmetic is integer
    * epoch seconds. (lazy: referenced by the registry val above) */
  private lazy val q83 = Q("q83_hopping_distinct_users",
    (s, dir) => {
      val sec = unix_timestamp(date_trunc("second", col("ts")))
      val w0  = (sec.cast("long") / 1800L).cast("long") * 1800L
      Tables.events(s, dir)
        .select(col("user_id"),
          explode(array(w0, w0 - 1800L)).as("window_start"))
        .groupBy("window_start")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("exact_users"),
          round(org.apache.spark.sql.graftext.KmvSketchAgg.kmvDistinct(
            col("user_id").cast("string"), 64), 4).as("est_users"))
        .orderBy("window_start")
    },
    """WITH ev AS (
      |  SELECT user_id,
      |    unnest([w0, w0 - 1800]) AS window_start
      |  FROM (SELECT user_id,
      |          (epoch(date_trunc('second', ts))::BIGINT // 1800) * 1800 AS w0
      |        FROM events)),
      |hashed AS (
      |  SELECT DISTINCT window_start,
      |    (('0x' || substr(md5(user_id::VARCHAR),1,15))::UBIGINT)::BIGINT AS h
      |  FROM ev),
      |topk AS (
      |  SELECT window_start, h,
      |    row_number() OVER (PARTITION BY window_start ORDER BY h) AS rn
      |  FROM hashed),
      |kmv AS (
      |  SELECT window_start, max(h) AS hk, count(*) AS k
      |  FROM topk WHERE rn <= 64 GROUP BY window_start),
      |base AS (
      |  SELECT window_start, count(*)::BIGINT AS n_events,
      |    count(DISTINCT user_id)::BIGINT AS exact_users
      |  FROM ev GROUP BY window_start)
      |SELECT base.window_start, base.n_events, base.exact_users,
      |  round(CASE WHEN k < 64 THEN k::DOUBLE
      |        ELSE (k - 1)::DOUBLE * 1152921504606846976.0 / hk::DOUBLE
      |        END, 4) AS est_users
      |FROM base JOIN kmv USING (window_start)
      |ORDER BY window_start""".stripMargin)

  /** TPC-H Q21 shape (EXISTS + NOT EXISTS double correlation), adapted
    * to this schema: suppliers whose returned line ('R') sits on a
    * multi-supplier order where NO other supplier also returned. Both
    * correlations plan as one semi + one anti join on the same key —
    * no correlated re-execution. (lazy: referenced by the registry val
    * above) */
  private lazy val q84 = Q("q84_sole_blame_suppliers",
    (s, dir) => {
      val l  = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      val lr = l.filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey").distinct()
      val al = l.select("l_orderkey", "l_suppkey").distinct()
      val hasOther = lr.as("a").join(al.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") =!= col("b.l_suppkey"), "left_semi")
      val soleBlame = hasOther.as("a").join(lr.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") =!= col("b.l_suppkey"), "left_anti")
      soleBlame.groupBy(col("l_suppkey").as("suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("suppkey").asc)
        .limit(20)
    },
    """WITH lr AS (SELECT DISTINCT l_orderkey, l_suppkey
      |            FROM lineitem WHERE l_returnflag = 'R'),
      |al AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
      |SELECT s.l_suppkey AS suppkey, count(*)::BIGINT AS numwait
      |FROM lr s
      |WHERE EXISTS (SELECT 1 FROM al o
      |              WHERE o.l_orderkey = s.l_orderkey
      |                AND o.l_suppkey <> s.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lr r
      |                  WHERE r.l_orderkey = s.l_orderkey
      |                    AND r.l_suppkey <> s.l_suppkey)
      |GROUP BY 1 ORDER BY numwait DESC, suppkey LIMIT 20""".stripMargin)

  /** Rank-family profile (percent_rank / cume_dist semantics) computed
    * on the DISTINCT value grid, not with a window over the base table:
    * `partitionBy(l_returnflag)` has 3 values, so a real window would
    * sort each flag's ENTIRE row set in one task (~200M rows/task at
    * 100×). Instead one partial-agg shuffle builds the
    * (flag, quantity, cnt) grid (metadata-sized: 3×50 rows) and the
    * rank algebra is integer arithmetic on it: with ties sharing a rank,
    * pr = below/(n-1) and cd = (below+cnt)/n, where `below` counts rows
    * strictly below the value. Same trick as
    * [[graft.pipeline.Sampling.quantileBuckets]]. (lazy: referenced by
    * the registry val above) */
  private lazy val q85 = Q("q85_quantity_rank_profile",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val grid = Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("__cnt"))
      // both windows run over the distinct grid only (150 rows)
      val wCum = Window.partitionBy("l_returnflag").orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("l_returnflag")
      grid
        .withColumn("__n", sum("__cnt").over(wAll))
        .withColumn("__below", sum("__cnt").over(wCum) - col("__cnt"))
        .select(col("l_returnflag"), col("l_quantity"),
          // percent_rank defines a single-row partition as 0.0; the raw
          // below/(n-1) algebra would divide by zero there
          round(when(col("__n") > 1,
            col("__below").cast("double") / (col("__n") - 1))
            .otherwise(lit(0.0)), 6).as("pr"),
          round((col("__below") + col("__cnt")).cast("double") / col("__n"), 6)
            .as("cd"))
        .orderBy("l_returnflag", "l_quantity")
    },
    """SELECT DISTINCT l_returnflag, l_quantity,
      |  round(percent_rank() OVER (PARTITION BY l_returnflag
      |    ORDER BY l_quantity), 6) AS pr,
      |  round(cume_dist() OVER (PARTITION BY l_returnflag
      |    ORDER BY l_quantity), 6) AS cd
      |FROM lineitem
      |ORDER BY l_returnflag, l_quantity""".stripMargin)

  /** Bucketed catalog tables, one pair per (session, sf dir) — built in
    * [[prepare]] warm-up like the search index: the layout shuffle is
    * infrastructure, not query cost. */
  private def bucketedFor(s: SparkSession, dir: String): (String, String) =
    once("bucket|" + org.apache.spark.sql.graftext.SessionUtils.uuid(s) +
        "|" + dir) {
      val tag = java.lang.Long.toHexString(
        java.lang.Integer.toUnsignedLong(dir.hashCode))
      val li = s"graft_li_bkt_$tag"
      val o  = s"graft_o_bkt_$tag"
      graft.table.DataLayout.bucketWrite(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        li, Seq("l_orderkey"), nBuckets = 8)
      graft.table.DataLayout.bucketWrite(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        o, Seq("o_orderkey"), nBuckets = 8)
      (li, o)
    }

  /** Fact-to-fact revenue over the BUCKETED tables: both sides were
    * hash-bucketed on the order key at layout time, so the join itself
    * needs no exchange (DataLayoutSpec pins the shuffle-free plan; this
    * entry runs the same layout through the correctness gate). (lazy:
    * referenced by the registry val above) */
  private lazy val q86 = Q("q86_bucketed_join_revenue",
    (s, dir) => {
      val (li, o) = bucketedFor(s, dir)
      s.table(li).join(s.table(o), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    },
    """SELECT o_orderpriority,
      |  (sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(18,4)))::DOUBLE
      |    AS revenue,
      |  count(*)::BIGINT AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** Salted skew join over a GENUINELY skewed key: the derived key `sk`
    * lands 60% of lineitem rows on one hot value (partkey residues
    * 0..59 → 0), so a plain shuffle join would send 60% of the fact
    * table to ONE reducer (≈60 TB of a 100 TB table in one task). The
    * big side is salted (saltFactor 8 sized to the 60%-vs-1% skew:
    * hot shards ≈7.5% ≈ tail keys), and only the 41-row dim is
    * replicated — replication cost is 41×8 rows, not 7× the orders
    * table as in the round-2 registration. The dim carries a
    * shuffle_hash hint to model the 100 TB regime where the dimension
    * is broadcast-ineligible (that is the regime this operator exists
    * for; with a broadcastable dim you would not salt). Results must
    * equal the plain join the oracle runs; OperatorsSpec pins that the
    * salted plan's max reducer partition drops ≥4× vs the plain
    * shuffle on the same skew. (lazy: referenced by the registry val
    * above) */
  private lazy val q87 = Q("q87_salted_skew_join",
    (s, dir) => {
      val skOf = (c: Column) => when(pmod(c, lit(100L)) < 60, lit(0L))
        .otherwise(pmod(c, lit(100L)))
      val li = Tables.lineitem(s, dir)
        .select(skOf(col("l_partkey")).as("sk"),
          col("l_quantity"), col("l_orderkey"))
      val dim = Tables.part(s, dir)
        .groupBy(skOf(col("p_partkey")).as("sk"))
        .agg(count(lit(1)).as("n_parts"))
        .hint("shuffle_hash") // model the broadcast-ineligible dim
      graft.operators.SkewJoin.saltedJoin(li, dim, Seq("sk"),
        saltFactor = 8, saltSource = "l_orderkey")
        .groupBy("sk")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double")
          .as("sum_qty"), count(lit(1)).as("n_items"),
          max("n_parts").as("n_parts"))
        .orderBy("sk")
    },
    """WITH li AS (
      |  SELECT CASE WHEN l_partkey % 100 < 60 THEN 0
      |              ELSE l_partkey % 100 END AS sk, l_quantity
      |  FROM lineitem),
      |dim AS (
      |  SELECT CASE WHEN p_partkey % 100 < 60 THEN 0
      |              ELSE p_partkey % 100 END AS sk,
      |         count(*) AS np
      |  FROM part GROUP BY 1)
      |SELECT sk, sum(l_quantity::DECIMAL(18,4))::DOUBLE AS sum_qty,
      |  count(*)::BIGINT AS n_items, max(np)::BIGINT AS n_parts
      |FROM li JOIN dim USING (sk)
      |GROUP BY sk ORDER BY sk""".stripMargin)

  /** Chunking + funnel constants (lazy: referenced by the registry val
    * declared above them). */
  private lazy val ChunkSize    = 64
  private lazy val ChunkOverlap = 16
  private lazy val FunnelSteps  = Seq("view", "click", "purchase")

  /** DSIR hashed-bigram feature space (q146): bucket count bounds BOTH
    * model relations regardless of corpus size. */
  private lazy val DsirBuckets = 1024

  /** KMV set-operation sketch size (q148). */
  private lazy val KmvSetK = 128

  /** MMR reranking knobs (q153): shortlist size, picks, relevance-vs-
    * diversity trade. λ is rendered as "0.7" in the oracle and
    * `lit(0.7)` in Spark — same literal, same double. */
  private lazy val MmrN      = 20
  private lazy val MmrK      = 5
  private lazy val MmrLambda = 0.7

  /** Per-label centroids (first 3 dims): decimal-exact means — a plain
    * double avg would sum in partition-arrival order and never
    * hash-match. (lazy: referenced by the registry val above) */
  private lazy val q79 = Q("q79_label_centroids",
    (s, dir) => graft.functions.VectorFunctions.centroidComponents(
      Tables.embeddings(s, dir), "label", "embedding")
      .filter(col("pos") < 3)
      .select(col("label").cast("int").as("label"),
        col("pos").cast("int").as("pos"), col("c"),
        col("n_vecs").cast("long").as("n_vecs"))
      .orderBy("label", "pos"),
    """SELECT label, pos::INT - 1 AS pos,
      |  round(s::DOUBLE / n, 6) AS c, n::BIGINT AS n_vecs
      |FROM (
      |  SELECT label, pos,
      |    sum(round(v::DOUBLE, 6)::DECIMAL(18,10)) AS s, count(*) AS n
      |  FROM (SELECT label, unnest(embedding) AS v,
      |               generate_subscripts(embedding, 1) AS pos
      |        FROM embeddings)
      |  GROUP BY label, pos)
      |WHERE pos <= 3 ORDER BY label, pos""".stripMargin)

  /** Proximity query + slop for q74. (lazy: referenced by the registry
    * val declared above it) */
  private lazy val ProximityQuery = "table merge"
  private lazy val ProximitySlop  = 3

  /** q133's frozen classifier model (the shape QualityClassifier.train
    * emits) — interpretable by construction: en-stopword hits and
    * alphanumeric density pull a doc up, punctuation-per-token pulls it
    * down. (lazy: referenced by the registry val above) */
  private lazy val QcWeights = Seq(0.05, 1.2, -0.8, 0.15, 2.0)
  private lazy val QcIntercept = -2.5

  /** q124's standing percolator queries (match, operator AND). */
  private lazy val PercolateQueries = Seq(
    1L -> "spark window", 2L -> "merge join batch", 3L -> "dup")

  /** q118's ES bool clauses (terms chosen from the fixture vocabulary:
    * `dup` is rare — a genuinely selective must_not). */
  private lazy val BoolMust   = Seq("spark")
  private lazy val BoolShould = Seq("window", "join", "merge")
  private lazy val BoolNot    = Seq("dup")
  private lazy val BoolFilter = Seq("batch")

  /** Curation knobs for q76 — every stage must do real work on the
    * fixture. (lazy: referenced by the registry val declared above it) */
  private lazy val CurationCfg = graft.pipeline.TrainingCorpus.Config(
    minQuality = 0.5, tokensPerLang = 4000L,
    mixture = Map("en" -> 30, "ko" -> 8, "de" -> 12, "fr" -> 6, "es" -> 20),
    benchmarkPhrases = BenchmarkPhrases)

  /** The whole curation product as ONE oracled query: exact dedup →
    * near-dup canonicalization → decontamination → quality floor →
    * token budget → mixture. Both engines run the identical chain.
    * (lazy: referenced by the registry val declared above it) */
  private lazy val q76 = Q("q76_training_corpus",
    (s, dir) => graft.pipeline.TrainingCorpus.build(
      Tables.documents(s, dir), "doc_id", "text", "lang", CurationCfg)
      .orderBy("doc_id"),
    {
      val shingleList = graft.pipeline.Decontaminate
        .phraseShingles(BenchmarkPhrases).map(sh => s"'$sh'").mkString(", ")
      val mixCases = CurationCfg.mixture.toSeq.sortBy(_._1)
        .map { case (l, n) => s"WHEN lang = '$l' THEN $n" }.mkString(" ")
      s"""WITH RECURSIVE
         |d1 AS (SELECT * FROM documents
         |       QUALIFY row_number() OVER (PARTITION BY md5(text)
         |         ORDER BY doc_id) = 1),
         |${minhashPairCtes("d1")},
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |cc(node, label) AS (
         |  SELECT doc_id, doc_id FROM d1
         |  UNION
         |  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src),
         |labels AS (SELECT node AS doc_id, min(label) AS cl
         |           FROM cc GROUP BY node),
         |canon AS (SELECT d.* FROM d1 d JOIN labels l USING (doc_id)
         |          WHERE l.cl = d.doc_id),
         |contam AS (
         |  SELECT DISTINCT doc_id
         |  FROM (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS shingle
         |        FROM (SELECT doc_id, $toksSql AS l FROM canon))
         |  WHERE shingle IN ($shingleList)),
         |d3 AS (SELECT * FROM canon
         |       WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |scored AS (SELECT doc_id, lang, $qualitySql AS q,
         |                  len($toksSql)::BIGINT AS n_tokens
         |           FROM d3),
         |qual AS (SELECT * FROM scored WHERE q >= ${dec(CurationCfg.minQuality)}),
         |budget AS (SELECT * FROM (
         |  SELECT *, sum(n_tokens) OVER (PARTITION BY lang
         |    ORDER BY ${md5LongSql("doc_id::VARCHAR")}, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM qual)
         |  WHERE cum <= ${CurationCfg.tokensPerLang}),
         |mix AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY ${md5LongSql("doc_id::VARCHAR")}, doc_id) AS rn
         |  FROM budget) WHERE rn <= (CASE $mixCases ELSE 0 END))
         |SELECT doc_id, lang, n_tokens FROM mix ORDER BY doc_id""".stripMargin
    })

  /** Pivot value list for q72 (both the Spark plan and the oracle are
    * generated from it). (lazy: referenced by the registry val declared
    * above it) */
  private lazy val EventTypes =
    Seq("click", "error", "purchase", "signup", "view")

  /** Phrase for q67 — adjacency, not bag-of-words (both terms are
    * individually frequent; only consecutive hits count). ~34 matches at
    * sf0.01. Repeated-term phrases are pinned by SearchSpec. (lazy:
    * referenced by the registry val declared above it) */
  private lazy val PhraseQuery = "table scan"

  /** Mixture recipe for q64: a deliberately non-uniform language mix —
    * zh absent (dropped entirely), en dominant. (lazy: referenced by the
    * registry val declared above it) */
  private lazy val MixtureRecipe =
    Map("en" -> 40, "ko" -> 10, "de" -> 15, "fr" -> 5, "es" -> 25)

  /** Stand-in benchmark/eval phrases for q62 — sequences that DO occur
    * in the fixture corpus, so decontamination flags real rows. (lazy:
    * referenced by the registry val declared above it) */
  private lazy val BenchmarkPhrases = Seq(
    "table scan merge part",
    "batch batch batch stream",
    "slow small filter customer")

  /** One MLlib IDF fit per (session, sf dir) — the fitted state is a
    * dim-length idf array, the per-query refit would be a full corpus
    * pass. */
  private def mlFitted(s: SparkSession, dir: String): graft.embed.MlEmbedder.Fitted =
    once("mlfit|" + org.apache.spark.sql.graftext.SessionUtils.uuid(s) +
        "|" + dir) {
      graft.embed.MlEmbedder.fit(Tables.documents(s, dir), "text", 64)
    }

  private def mlFittedMd5(s: SparkSession, dir: String): graft.embed.MlEmbedder.Fitted =
    once("mlfit_md5|" + org.apache.spark.sql.graftext.SessionUtils.uuid(s) +
        "|" + dir) {
      graft.embed.MlEmbedder.fit(Tables.documents(s, dir), "text", 64,
        hash = "md5")
    }
  /** CMS probe set: four in-vocabulary tokens plus one absent ("zebra")
    * to show the estimate-0-or-collision behavior. */
  private lazy val CmsProbes = Seq("customer", "merge", "spark", "vector", "zebra")
  private lazy val CmsD = 4
  private lazy val CmsW = 64

  // ---- round-5 session-8 additions: sketches & corpus analytics ---------

  /** Shared co-purchase-graph edge CTEs for q228/q229 — mirrors
    * [[graft.operators.Graph.basketEdges]] on the 1/4-orders slice
    * (the HAVING guard mirrors the engine's hot-basket cap, which
    * never binds at fixture scale). MATERIALIZED: the unrolled peel
    * references each CTE twice per round — without it DuckDB inlines
    * the tree exponentially. */
  private lazy val GraphEdgeCtes: String =
    """bi AS MATERIALIZED (SELECT DISTINCT l_orderkey AS basket,
      |    l_partkey AS item
      |  FROM lineitem WHERE l_orderkey % 4 = 0),
      |okb AS (SELECT basket FROM bi GROUP BY basket
      |        HAVING count(*) <= 10000),
      |e0 AS MATERIALIZED (SELECT DISTINCT x.item AS a, y.item AS b
      |  FROM bi x JOIN bi y ON x.basket = y.basket AND x.item < y.item
      |  WHERE x.basket IN (SELECT basket FROM okb))""".stripMargin

  /** q206's full calibration oracle — shared with q268, which
    * aggregates the same reliability table into ECE. */
  /** Shared t→g CTE prefix of the q206/q268 calibration oracles —
    * also the q347 Brier-decomposition front end (which needs the
    * per-doc qp and the exact per-bin sums, not the truncated
    * ratios). */
  private lazy val CalibPrefixSql: String = {
        val mkSql = TextAnalysis.Stopwords.toMap.apply("en")
          .map(m => s"'$m'").mkString("[", ",", "]")
        val w = QcWeights.map(dec)
        s"""t AS (SELECT doc_id, text, $toksSql AS l FROM documents),
           |f AS (SELECT doc_id,
           |    ln(1.0 + length(text)::DOUBLE) AS f1,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE length(regexp_replace(text, '[^A-Za-z0-9]', '',
           |                'g'))::DOUBLE / length(text)::DOUBLE END AS f2,
           |    length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
           |      / greatest(len(l)::DOUBLE, 1.0) AS f3,
           |    CASE WHEN len(l) = 0 THEN 0.0
           |         ELSE length(regexp_replace(text, '[^A-Za-z0-9]', '',
           |                'g'))::DOUBLE / len(l)::DOUBLE END AS f4,
           |    CASE WHEN len(l) = 0 THEN 0.0
           |         ELSE len(list_intersect(l, $mkSql))::DOUBLE
           |              / len(list_distinct(l))::DOUBLE END AS f5
           |  FROM t),
           |z AS (SELECT doc_id,
           |    (${dec(QcIntercept)} + ${w(0)} * f1 + ${w(1)} * f2
           |      + ${w(2)} * f3 + ${w(3)} * f4 + ${w(4)} * f5) AS z FROM f),
           |p AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6)
           |        AS qp FROM z),
           |tr AS (SELECT doc_id, (lang = 'en') AS pos
           |       FROM documents),
           |base AS (
           |  SELECT least(floor(qp * 10)::INT, 9) AS bin, qp,
           |    (qp::DECIMAL(18,6) * 1000000)::BIGINT AS p_ppm,
           |    pos::INT::BIGINT AS pos
           |  FROM p JOIN tr USING (doc_id)),
           |g AS (SELECT bin, count(*)::BIGINT AS n_docs,
           |        sum(pos)::BIGINT AS n_pos,
           |        sum(p_ppm)::BIGINT AS sum_p_ppm
           |      FROM base GROUP BY 1)""".stripMargin
      }

  private lazy val CalibrationOracleSql: String =
    s"""WITH $CalibPrefixSql
       |SELECT bin, n_docs, n_pos,
       |  ((sum_p_ppm // n_docs)::DOUBLE / 1000000.0) AS avg_p,
       |  (((n_pos * 1000000) // n_docs)::DOUBLE / 1000000.0)
       |    AS pos_rate
       |FROM g ORDER BY bin""".stripMargin

  private lazy val analyticsRegistry: Seq[Q] = Seq(

    Q("q135_hll_cardinality",
      // ES `cardinality` aggregation parity: per-source distinct 3-shingle
      // count via the native HyperLogLog aggregate (64-byte register
      // buffer, elementwise-max merge — bounded state at ANY cardinality,
      // the 100 TB distinct-count primitive). The exact countDistinct leg
      // exists only as the eval harness (q115/q116 pattern): production
      // runs the sketch INSTEAD of the distinct shuffle. The oracle
      // rebuilds the registers in SQL — the integer harmonic sum makes
      // the estimate bit-identical (see HllSketchAgg doc).
      (s, dir) => {
        val sh = Tables.documents(s, dir).select(col("source"),
          explode(TextFunctions.shingles(
            TextFunctions.tokens(col("text")), 3)).as("v"))
        val est = graft.functions.Sketches.hllDistinct(sh, "source", "v")
        val ex = sh.groupBy("source")
          .agg(countDistinct("v").cast("long").as("n_exact"))
        ex.join(est, "source")
          .select(col("source"), col("n_exact"), col("hll_est"),
            round(abs(col("hll_est") - col("n_exact")) /
              col("n_exact").cast("double"), 6).as("rel_err"))
          .orderBy("source")
      },
      s"""WITH tk AS (SELECT source, $toksSql AS l FROM documents),
         |sh AS (SELECT source, unnest($shinglesSql) AS v FROM tk
         |       WHERE len(l) >= 3),
         |h AS (SELECT source, v, ${md5LongSql("v")} AS h FROM sh),
         |r AS (SELECT source, h % 64 AS bucket,
         |        max(CASE WHEN h // 64 = 0 THEN 55
         |                 ELSE 55 - length(bin(h // 64)) END) AS rho
         |      FROM h GROUP BY source, bucket),
         |a AS (SELECT source,
         |        (sum(1::BIGINT << (55 - rho))
         |         + (64 - count(*)) * (1::BIGINT << 55))::BIGINT AS sumint,
         |        (64 - count(*))::BIGINT AS zeros
         |      FROM r GROUP BY source),
         |e AS (SELECT source,
         |        CASE WHEN 0.709 * 64 * 64 * pow(2.0, 55) / sumint <= 160.0
         |                  AND zeros > 0
         |             THEN 64.0 * ln(64.0 / zeros)
         |             ELSE 0.709 * 64 * 64 * pow(2.0, 55) / sumint END AS est
         |      FROM a),
         |ex AS (SELECT source, count(DISTINCT v)::BIGINT AS n_exact
         |       FROM sh GROUP BY source)
         |SELECT ex.source, n_exact, round(est, 4) AS hll_est,
         |  round(abs(round(est, 4) - n_exact) / n_exact::DOUBLE, 6) AS rel_err
         |FROM ex JOIN e ON ex.source = e.source ORDER BY ex.source""".stripMargin),

    Q("q136_cms_frequency",
      // Count-Min sketch frequency estimation: the sketch relation is
      // d·w = 256 rows REGARDLESS of corpus size (one partial-agg
      // groupBy builds it); probe lookups broadcast-join it. Estimates
      // over-count only — `overcount` surfaces collision behavior (the
      // absent probe "zebra" shows it directly). Exact counts are the
      // eval-harness leg, as in q135.
      (s, dir) => {
        import s.implicits._
        val toks = Tables.documents(s, dir)
          .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        val cells = graft.functions.Sketches.cmsCells(toks, "tok", CmsD, CmsW)
        val est = graft.functions.Sketches.cmsEstimate(
          cells, CmsProbes.toDF("probe"), CmsD, CmsW)
        val ex = toks.filter(col("tok").isin(CmsProbes: _*))
          .groupBy(col("tok").as("probe"))
          .agg(count(lit(1)).cast("long").as("n_exact"))
        est.join(ex, Seq("probe"), "left")
          .select(col("probe"), col("cms_est"),
            coalesce(col("n_exact"), lit(0L)).cast("long").as("n_exact"),
            (col("cms_est") - coalesce(col("n_exact"), lit(0L)))
              .cast("long").as("overcount"))
          .orderBy("probe")
      },
      s"""WITH toks AS (SELECT unnest($toksSql) AS tok FROM documents),
         |cells AS (SELECT r, ${md5LongSql("(r::VARCHAR || ':' || tok)")} % $CmsW AS c,
         |    count(*)::BIGINT AS n
         |  FROM (SELECT tok, unnest(range(0, $CmsD)) AS r FROM toks)
         |  GROUP BY r, c),
         |probes AS (SELECT unnest([${CmsProbes.map(p => s"'$p'").mkString(",")}]) AS probe),
         |pc AS (SELECT probe, r,
         |    ${md5LongSql("(r::VARCHAR || ':' || probe)")} % $CmsW AS c
         |  FROM (SELECT probe, unnest(range(0, $CmsD)) AS r FROM probes)),
         |est AS (SELECT probe, min(coalesce(n, 0))::BIGINT AS cms_est
         |  FROM pc LEFT JOIN cells USING (r, c) GROUP BY probe),
         |ex AS (SELECT tok AS probe, count(*)::BIGINT AS n_exact
         |  FROM toks GROUP BY tok)
         |SELECT probe, cms_est, coalesce(n_exact, 0)::BIGINT AS n_exact,
         |  (cms_est - coalesce(n_exact, 0))::BIGINT AS overcount
         |FROM est LEFT JOIN ex USING (probe) ORDER BY probe""".stripMargin),

    Q("q137_gopher_rules",
      // Gopher document-quality filter (Rae et al. 2021): per-doc rule
      // metrics + 0/1 flags, pure codegen'd column algebra (free rider
      // on any corpus scan at 100 TB; the only shuffle is the output
      // ORDER BY). Flags are derived from the 6-dp-rounded ratios so
      // every boundary decision is engine-exact.
      (s, dir) => TextAnalysis.gopherMetrics(
        Tables.documents(s, dir), "doc_id", "text").orderBy("doc_id"),
      s"""WITH tk AS (SELECT doc_id, $toksSql AS l FROM documents),
         |m AS (SELECT doc_id,
         |    len(l)::BIGINT AS n_words,
         |    CASE WHEN len(l) = 0 THEN 0.0 ELSE
         |      round(list_sum([length(x) for x in l])::DOUBLE / len(l), 6)
         |    END AS mean_word_len,
         |    CASE WHEN len(l) = 0 THEN 0.0 ELSE
         |      round(len(list_filter(l, x -> regexp_matches(x, '[a-z]')))::DOUBLE
         |            / len(l), 6)
         |    END AS alpha_frac,
         |    len(list_intersect(list_distinct(l),
         |      [${TextAnalysis.GopherStopwords.map(w => s"'$w'").mkString(",")}]))::BIGINT
         |      AS n_stop
         |  FROM tk)
         |SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop,
         |  (CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END) AS pass_words,
         |  (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END) AS pass_word_len,
         |  (CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END) AS pass_alpha,
         |  (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS pass_stop,
         |  (CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END)
         |    * (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END)
         |    * (CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END)
         |    * (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS pass_gopher
         |FROM m ORDER BY doc_id""".stripMargin),

    Q("q138_containment_pairs",
      // Asymmetric overlap: containment c(A→B) = |S_A ∩ S_B| / |S_A|
      // catches a short doc embedded in a long one (quotes, mirrors in
      // boilerplate) that Jaccard dilutes — the q21 single-pass
      // shared-shingle core with the containment projection. Bounded
      // in-group pair generation, hot shingles capped.
      (s, dir) => Dedup.containmentPairs(
        Tables.documents(s, dir), "doc_id", "text", 0.2).orderBy("a", "b"),
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS shingle
         |  FROM (SELECT doc_id, $toksSql AS l FROM documents)),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |ok AS (SELECT shingle FROM sh GROUP BY shingle
         |       HAVING count(*) <= ${Dedup.MaxGroupSize}),
         |common AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b, count(*)::DOUBLE AS n_common
         |  FROM sh l JOIN sh r ON l.shingle = r.shingle
         |  WHERE l.doc_id < r.doc_id
         |    AND l.shingle IN (SELECT shingle FROM ok)
         |  GROUP BY l.doc_id, r.doc_id)
         |SELECT a, b, containment_a, containment_b, max_containment FROM (
         |  SELECT a, b,
         |    round(n_common / sa.n_sh, 6) AS containment_a,
         |    round(n_common / sb.n_sh, 6) AS containment_b,
         |    greatest(round(n_common / sa.n_sh, 6),
         |             round(n_common / sb.n_sh, 6)) AS max_containment
         |  FROM common
         |  JOIN sizes sa ON sa.doc_id = a
         |  JOIN sizes sb ON sb.doc_id = b)
         |WHERE max_containment >= 0.2 ORDER BY a, b""".stripMargin),

    Q("q139_block_dedup",
      // RefinedWeb/CCNet line-level corpus dedup, keep-FIRST policy,
      // over non-overlapping 16-token blocks (the corpus has no
      // newlines; on web text the unit is the newline-split line). The
      // globally first occurrence of each distinct block survives;
      // later occurrences (cross-doc AND in-doc repeats) are cut and
      // docs reassembled. Two hash shuffles — block-hash keeper,
      // doc regroup — no corpus window, no self-join.
      (s, dir) => Dedup.blockDedup(
        Tables.documents(s, dir), "doc_id", "text", 16).orderBy("doc"),
      s"""WITH t AS (SELECT doc_id, $toksSql AS l FROM documents),
         |occ AS (SELECT doc_id AS doc, b AS blk,
         |    array_to_string(l[b*16+1 : least((b+1)*16, len(l))], ' ') AS btxt,
         |    doc_id * 1000000 + b AS k
         |  FROM (SELECT doc_id, l, unnest(range(0, ((len(l)-1)//16)+1)) AS b
         |        FROM t WHERE len(l) > 0)),
         |h AS (SELECT doc, blk, btxt, k, md5(btxt) AS h FROM occ),
         |keep AS (SELECT h, min(k) AS kk FROM h GROUP BY h),
         |surv AS (SELECT doc, blk, btxt FROM h JOIN keep USING (h)
         |         WHERE k = kk),
         |agg AS (SELECT doc, string_agg(btxt, ' ' ORDER BY blk) AS clean_text,
         |        count(*) AS nkeep FROM surv GROUP BY doc),
         |tot AS (SELECT doc, count(*) AS nb FROM h GROUP BY doc)
         |SELECT tot.doc, coalesce(agg.clean_text, '') AS clean_text,
         |  (tot.nb - coalesce(agg.nkeep, 0))::BIGINT AS n_blocks_dropped
         |FROM tot LEFT JOIN agg USING (doc)
         |ORDER BY tot.doc""".stripMargin),

    Q("q140_textrank",
      // TextRank keyword extraction: 5 damped PageRank iterations over
      // the vocabulary-sized co-occurrence graph (Pregel shape — one
      // join + partial-agg groupBy per iteration, cost independent of
      // corpus size once edges are counted). Per-iteration round(9)
      // pins float-sum association cross-engine; ranks are over the
      // 6-dp value with token tiebreak.
      (s, dir) => TextAnalysis.textRank(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("pr").desc, col("token")).limit(25),
      {
        val iterCtes = (1 to 5).map { k =>
          s"""p$k AS (SELECT en.dst AS token,
             |  round((1.0 - 0.85) / (SELECT n FROM nn)
             |        + 0.85 * sum(en.wn * p${k - 1}.pr), 9) AS pr
             |  FROM en JOIN p${k - 1} ON en.src = p${k - 1}.token
             |  GROUP BY en.dst)""".stripMargin
        }.mkString(",\n")
        s"""WITH t AS (SELECT $toksSql AS l FROM documents),
           |adj AS (SELECT l[i] AS src, l[i+1] AS dst
           |  FROM (SELECT l, unnest(range(1, len(l))) AS i FROM t
           |        WHERE len(l) >= 2)),
           |ed AS (SELECT src, dst, count(*)::BIGINT AS w FROM (
           |    SELECT src, dst FROM adj
           |    UNION ALL SELECT dst AS src, src AS dst FROM adj)
           |  GROUP BY src, dst),
           |outw AS (SELECT src, sum(w)::BIGINT AS ow FROM ed GROUP BY src),
           |en AS (SELECT ed.src, ed.dst, ed.w::DOUBLE / outw.ow::DOUBLE AS wn
           |       FROM ed JOIN outw USING (src)),
           |nn AS (SELECT count(DISTINCT src)::DOUBLE AS n FROM ed),
           |p0 AS (SELECT token, 1.0 / (SELECT n FROM nn) AS pr
           |       FROM (SELECT DISTINCT src AS token FROM ed)),
           |$iterCtes
           |SELECT token, round(pr, 6) AS pr FROM p5
           |ORDER BY pr DESC, token LIMIT 25""".stripMargin
      }),

    Q("q141_date_histogram",
      // ES date_histogram parity with extended_bounds gap fill: daily
      // buckets over the high-value event slice (value >= 250 — sparse
      // by construction, so empty buckets really occur), each with
      // count, distinct users, sum and a terms/top_hits-style top
      // event_type (max count, min-type tiebreak via struct-min — no
      // window). Bucket skeleton = sequence() over the UNFILTERED
      // min/max day (that is what extended_bounds means); all joined
      // relations are day-keyed and tiny after partial aggs.
      (s, dir) => {
        val ev = Tables.events(s, dir).select(
          date_trunc("day", col("ts")).as("d"),
          col("event_type"), col("user_id"), col("value"))
        val days = ev.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
        val f = ev.filter(col("value") >= 250)
        val agg = f.groupBy("d").agg(
          count(lit(1)).cast("long").as("n_events"),
          countDistinct("user_id").cast("long").as("n_users"),
          sum(d184(col("value"))).cast("double").as("sum_value"))
        val tt = f.groupBy("d", "event_type").agg(count(lit(1)).as("n"))
          .groupBy("d").agg(min(struct((col("n") * -1).as("nn"),
            col("event_type").as("t"))).as("m"))
          .select(col("d"), col("m.t").as("top_type"))
        days.join(agg, Seq("d"), "left").join(tt, Seq("d"), "left")
          .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            coalesce(col("n_users"), lit(0L)).as("n_users"),
            coalesce(col("sum_value"), lit(0.0)).as("sum_value"),
            coalesce(col("top_type"), lit("none")).as("top_type"))
          .orderBy("day")
      },
      """WITH ev AS (SELECT date_trunc('day', ts) AS d, event_type,
        |    user_id, value FROM events),
        |bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM ev),
        |days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d
        |         FROM bounds),
        |f AS (SELECT * FROM ev WHERE value >= 250),
        |agg AS (SELECT d, count(*)::BIGINT AS n_events,
        |    count(DISTINCT user_id)::BIGINT AS n_users,
        |    sum(CAST(value AS DECIMAL(18,4)))::DOUBLE AS sum_value
        |  FROM f GROUP BY d),
        |tc AS (SELECT d, event_type, count(*) AS n FROM f
        |       GROUP BY d, event_type),
        |tt AS (SELECT d, event_type AS top_type FROM (
        |    SELECT d, event_type,
        |      row_number() OVER (PARTITION BY d ORDER BY n DESC, event_type)
        |        AS rn FROM tc) WHERE rn = 1)
        |SELECT strftime(days.d, '%Y-%m-%d') AS day,
        |  coalesce(n_events, 0)::BIGINT AS n_events,
        |  coalesce(n_users, 0)::BIGINT AS n_users,
        |  coalesce(sum_value, 0.0)::DOUBLE AS sum_value,
        |  coalesce(top_type, 'none') AS top_type
        |FROM days LEFT JOIN agg USING (d) LEFT JOIN tt USING (d)
        |ORDER BY day""".stripMargin),

    Q("q142_weighted_sample",
      // Efraimidis–Spirakis A-ES weighted sampling without replacement:
      // 20 docs with probability ∝ n_chars, as ONE TakeOrdered over
      // md5-derived keys (no global sort, no RNG state, replayable).
      // Keys rounded to 9 dp with id tiebreak so the selection boundary
      // is engine-exact.
      (s, dir) => graft.pipeline.Sampling.weightedSample(
          Tables.documents(s, dir), "doc_id", "n_chars", 20)
        .select(col("doc_id"), col("n_chars"), col("sample_key"))
        .orderBy(col("sample_key").desc, col("doc_id")),
      s"""SELECT doc_id, n_chars,
         |  round(pow((${md5LongSql("doc_id::VARCHAR")} + 1)::DOUBLE
         |      / pow(2.0, 60), 1.0 / n_chars), 9) AS sample_key
         |FROM documents
         |ORDER BY sample_key DESC, doc_id LIMIT 20""".stripMargin),

    Q("q143_hll_merge_rollup",
      // THE sketch-table rollup: sketch each half of the corpus into a
      // persistable (source, bucket, rho) register table, merge the two
      // tables (elementwise max — no rescan of either half), and show
      // the merged estimate ≡ the direct single-pass estimate per
      // source. At 100 TB this is daily register tables answering
      // "distinct over any date range" at metadata cost; `agree` is
      // pinned 1 by construction (HLL merge is lossless).
      (s, dir) => {
        import graft.functions.Sketches
        val sh = Tables.documents(s, dir).select(col("doc_id"), col("source"),
          explode(TextFunctions.shingles(
            TextFunctions.tokens(col("text")), 3)).as("v"))
        val ra = Sketches.hllRegisters(sh.filter(col("doc_id") % 2 === 0), "source", "v")
        val rb = Sketches.hllRegisters(sh.filter(col("doc_id") % 2 === 1), "source", "v")
        val merged = Sketches.hllFromRegisters(ra.unionByName(rb), "source")
          .withColumnRenamed("hll_est", "hll_merged")
        val direct = Sketches.hllDistinct(sh, "source", "v")
          .withColumnRenamed("hll_est", "hll_direct")
        merged.join(direct, "source")
          .select(col("source"), col("hll_merged"), col("hll_direct"),
            when(col("hll_merged") === col("hll_direct"), 1).otherwise(0)
              .as("agree"))
          .orderBy("source")
      },
      {
        val estFrom = (regCte: String, alias: String) =>
          s"""$alias AS (SELECT source,
             |  CASE WHEN 0.709 * 64 * 64 * pow(2.0, 55) / sumint <= 160.0
             |            AND zeros > 0
             |       THEN 64.0 * ln(64.0 / zeros)
             |       ELSE 0.709 * 64 * 64 * pow(2.0, 55) / sumint END AS est
             |  FROM (SELECT source,
             |      (sum(1::BIGINT << (55 - rho))
             |       + (64 - count(*)) * (1::BIGINT << 55))::BIGINT AS sumint,
             |      (64 - count(*))::BIGINT AS zeros
             |    FROM $regCte GROUP BY source))""".stripMargin
        s"""WITH tk AS (SELECT doc_id, source, $toksSql AS l FROM documents),
           |sh AS (SELECT doc_id, source, unnest($shinglesSql) AS v FROM tk
           |       WHERE len(l) >= 3),
           |h AS (SELECT doc_id, source, ${md5LongSql("v")} AS h FROM sh),
           |halves AS (SELECT doc_id % 2 AS half, source, h % 64 AS bucket,
           |    max(CASE WHEN h // 64 = 0 THEN 55
           |             ELSE 55 - length(bin(h // 64)) END) AS rho
           |  FROM h GROUP BY half, source, bucket),
           |mregs AS (SELECT source, bucket, max(rho) AS rho FROM halves
           |          GROUP BY source, bucket),
           |dregs AS (SELECT source, h % 64 AS bucket,
           |    max(CASE WHEN h // 64 = 0 THEN 55
           |             ELSE 55 - length(bin(h // 64)) END) AS rho
           |  FROM h GROUP BY source, bucket),
           |${estFrom("mregs", "em")},
           |${estFrom("dregs", "ed")}
           |SELECT em.source, round(em.est, 4) AS hll_merged,
           |  round(ed.est, 4) AS hll_direct,
           |  (CASE WHEN round(em.est, 4) = round(ed.est, 4)
           |        THEN 1 ELSE 0 END) AS agree
           |FROM em JOIN ed ON em.source = ed.source
           |ORDER BY em.source""".stripMargin
      }),

    Q("q144_composite_agg",
      // ES composite aggregation pagination: bucket keyset paging over
      // (source, lang) with after_key = ('src12', 'en'), page size 7.
      // The after-key predicate applies to the GROUP KEYS, so it pushes
      // below the aggregate INTO the parquet scan (rows of earlier
      // buckets are never read past the filter) and the page plans as
      // TakeOrdered — page cost independent of page depth, the q109
      // argument for buckets instead of hits.
      (s, dir) => Tables.documents(s, dir)
        .filter(col("source") > "src12" ||
          (col("source") === "src12" && col("lang") > "en"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("source", "lang").limit(7),
      """SELECT source, lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars
        |FROM documents
        |WHERE source > 'src12' OR (source = 'src12' AND lang > 'en')
        |GROUP BY source, lang ORDER BY source, lang LIMIT 7""".stripMargin),

    Q("q145_pipeline_aggs",
      // ES pipeline aggregations over a date_histogram: cumulative_sum,
      // derivative and moving_fn(avg, window 3) over the gap-filled
      // daily bucket series. The heavy pass is ONE partial-agg groupBy
      // over events; every window then runs over the bucket GRID — one
      // row per day, metadata scale regardless of corpus size (that is
      // the whole point of pipeline aggs: they post-process buckets,
      // never documents). First-bucket derivative is 0 by definition
      // here (ES omits the key; a column must exist on both engines).
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .select(date_trunc("day", col("ts")).as("d"))
        val days = ev.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
        val daily = ev.groupBy("d").agg(count(lit(1)).cast("long").as("n"))
        val grid = days.join(daily, Seq("d"), "left")
          .select(col("d"), coalesce(col("n"), lit(0L)).as("n_events"))
        val w = Window.orderBy("d")
        grid.select(date_format(col("d"), "yyyy-MM-dd").as("day"),
            col("n_events"),
            sum("n_events").over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)).cast("long").as("cum_events"),
            coalesce(col("n_events") - lag("n_events", 1).over(w), lit(0L))
              .cast("long").as("deriv"),
            round(avg("n_events").over(w.rowsBetween(-2, 0)), 6)
              .as("mov_avg3"))
          .orderBy("day")
      },
      """WITH ev AS (SELECT date_trunc('day', ts) AS d FROM events),
        |bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM ev),
        |days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d
        |         FROM bounds),
        |daily AS (SELECT d, count(*)::BIGINT AS n FROM ev GROUP BY d),
        |grid AS (SELECT days.d, coalesce(n, 0)::BIGINT AS n_events
        |         FROM days LEFT JOIN daily USING (d))
        |SELECT strftime(d, '%Y-%m-%d') AS day, n_events,
        |  sum(n_events) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW)::BIGINT AS cum_events,
        |  coalesce(n_events - lag(n_events) OVER (ORDER BY d), 0)::BIGINT
        |    AS deriv,
        |  round(avg(n_events) OVER (ORDER BY d ROWS BETWEEN 2 PRECEDING
        |    AND CURRENT ROW), 6) AS mov_avg3
        |FROM grid ORDER BY day""".stripMargin),

    Q("q146_dsir_weights",
      // DSIR importance resampling (Xie et al. 2023): score the non-'en'
      // raw pool against the 'en' target domain by hashed-bigram
      // log-likelihood ratio. The two bag-of-bigrams "models" are
      // DsirBuckets-row count relations (bounded by configuration, never
      // by data); scoring joins the raw pool's bigrams against the
      // BROADCAST log-ratio table. Top 25 raw docs most target-like.
      (s, dir) => graft.pipeline.Dsir.importanceWeights(
          Tables.documents(s, dir), "doc_id", "text",
          col("lang") === "en", DsirBuckets)
        .orderBy(col("weight").desc, col("doc_id")).limit(25),
      s"""WITH tk AS (SELECT doc_id, lang = 'en' AS t, $toksSql AS l
         |           FROM documents),
         |g AS (SELECT doc_id, t,
         |    ${md5LongSql("g")} % $DsirBuckets AS b
         |  FROM (SELECT doc_id, t,
         |          unnest([l[i] || ' ' || l[i+1] for i in range(1, len(l))]) AS g
         |        FROM tk WHERE len(l) >= 2)),
         |ct AS (SELECT b, count(*)::BIGINT AS c FROM g WHERE t GROUP BY b),
         |cr AS (SELECT b, count(*)::BIGINT AS c FROM g WHERE NOT t GROUP BY b),
         |nt AS (SELECT sum(c)::DOUBLE AS n FROM ct),
         |nr AS (SELECT sum(c)::DOUBLE AS n FROM cr),
         |model AS (SELECT d.b,
         |    ln((coalesce(ct.c, 0)::DOUBLE + 1.0) / (nt.n + $DsirBuckets.0))
         |    - ln((coalesce(cr.c, 0)::DOUBLE + 1.0) / (nr.n + $DsirBuckets.0))
         |      AS lr
         |  FROM (SELECT unnest(range(0, $DsirBuckets)) AS b) d
         |  LEFT JOIN ct ON ct.b = d.b LEFT JOIN cr ON cr.b = d.b, nt, nr)
         |SELECT g.doc_id, count(*)::BIGINT AS n_bigrams,
         |  round(sum(model.lr), 6) AS weight
         |FROM g JOIN model ON model.b = g.b WHERE NOT g.t
         |GROUP BY g.doc_id
         |ORDER BY weight DESC, g.doc_id LIMIT 25""".stripMargin),

    Q("q147_welch_ttest",
      // A/B experiment readout: Welch's unequal-variance t per
      // event_type, arms split by user_id parity. The corpus-scale pass
      // is ONE partial-agg groupBy collecting exact DECIMAL moments
      // (n, Σx, Σx²); the t/df float math runs on the (type × arm)
      // metadata frame as one deterministic expression per row, so both
      // engines compute bit-identical doubles before the 6-dp round.
      (s, dir) => graft.operators.AbTest.welch(
          Tables.events(s, dir), "event_type", "value",
          col("user_id") % 2 === 0)
        .orderBy("event_type"),
      """WITH m AS (SELECT event_type, user_id % 2 = 0 AS a,
        |    count(*)::DOUBLE AS n,
        |    sum(value::DECIMAL(18,4))::DOUBLE AS s,
        |    sum(value::DECIMAL(18,4) * value::DECIMAL(18,4))::DOUBLE AS q
        |  FROM events GROUP BY event_type, a),
        |w AS (SELECT event_type,
        |    max(CASE WHEN a THEN n END) AS na,
        |    max(CASE WHEN a THEN s END) AS sa,
        |    max(CASE WHEN a THEN q END) AS qa,
        |    max(CASE WHEN NOT a THEN n END) AS nb,
        |    max(CASE WHEN NOT a THEN s END) AS sb,
        |    max(CASE WHEN NOT a THEN q END) AS qb
        |  FROM m GROUP BY event_type)
        |SELECT event_type, na::BIGINT AS n_a, nb::BIGINT AS n_b,
        |  round(sa / na, 6) AS mean_a, round(sb / nb, 6) AS mean_b,
        |  round((sa / na - sb / nb) / sqrt(
        |    ((qa - sa * sa / na) / (na - 1.0)) / na +
        |    ((qb - sb * sb / nb) / (nb - 1.0)) / nb), 6) AS t_stat,
        |  round((((qa - sa * sa / na) / (na - 1.0)) / na +
        |         ((qb - sb * sb / nb) / (nb - 1.0)) / nb) *
        |        (((qa - sa * sa / na) / (na - 1.0)) / na +
        |         ((qb - sb * sb / nb) / (nb - 1.0)) / nb) /
        |    ((((qa - sa * sa / na) / (na - 1.0)) / na) *
        |     (((qa - sa * sa / na) / (na - 1.0)) / na) / (na - 1.0) +
        |     (((qb - sb * sb / nb) / (nb - 1.0)) / nb) *
        |     (((qb - sb * sb / nb) / (nb - 1.0)) / nb) / (nb - 1.0)), 6)
        |    AS df_w
        |FROM w ORDER BY event_type""".stripMargin),

    Q("q148_kmv_setops",
      // Theta-sketch-style SET OPERATIONS on KMV sketches (Beyer et al.
      // SIGMOD'07): sketch the 'en' and 'de' token sets once (k=128
      // minimum md5 hashes each — the corpus-touching pass), then
      // answer |A|, |B|, |A∪B|, Jaccard and |A∩B| entirely from the
      // ≤2k-row sketches: the union sketch is the k smallest of the
      // merged hashes (KMV's closure property), J = fraction of union-
      // sketch members in both inputs, intersection = J·|A∪B|. At
      // 100 TB the sketches are persisted per partition/day and these
      // questions never rescan data. Below saturation (this fixture)
      // every estimate is exact — the oracle proves it.
      (s, dir) => {
        import graft.functions.Sketches
        val toks = Tables.documents(s, dir)
          .select(col("lang"), explode(TextFunctions.tokens(col("text")))
            .as("tok"))
        def side(l: String) =
          Sketches.kmvMinHashes(toks.filter(col("lang") === l), "tok", KmvSetK)
        Sketches.kmvSetOps(side("en"), side("de"), KmvSetK)
          .select(col("est_a"), col("est_b"), col("est_union"),
            col("jaccard"), col("est_intersect"))
      },
      {
        def sideCte(l: String, a: String) =
          s"""$a AS (SELECT DISTINCT ${md5LongSql("tok")} AS h
             |  FROM (SELECT unnest($toksSql) AS tok FROM documents
             |        WHERE lang = '$l')),
             |k$a AS (SELECT h FROM $a ORDER BY h LIMIT $KmvSetK)""".stripMargin
        def est(src: String, name: String) =
          s"""$name AS (SELECT round(CASE WHEN count(*) < $KmvSetK
             |    THEN count(*)::DOUBLE
             |    ELSE ($KmvSetK - 1)::DOUBLE * pow(2.0, 60) / max(h)::DOUBLE
             |  END, 4) AS $name FROM $src)""".stripMargin
        s"""WITH ${sideCte("en", "ha")},
           |${sideCte("de", "hb")},
           |ku AS (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
           |       ORDER BY h LIMIT $KmvSetK),
           |kb AS (SELECT count(*)::DOUBLE AS nb FROM ku
           |       WHERE h IN (SELECT h FROM kha) AND h IN (SELECT h FROM khb)),
           |jc AS (SELECT round(nb / (SELECT count(*) FROM ku), 6) AS jaccard
           |       FROM kb),
           |${est("kha", "est_a")},
           |${est("khb", "est_b")},
           |${est("ku", "est_union")}
           |SELECT est_a, est_b, est_union, jaccard,
           |  round(jaccard * est_union, 4) AS est_intersect
           |FROM est_a, est_b, est_union, jc""".stripMargin
      }),

    Q("q151_time_to_convert",
      // Funnel latency (q78's missing half): seconds from a user's FIRST
      // view to their first subsequent purchase, distribution over
      // converted users. Two min-timestamp aggregates + one join on the
      // user key (partial-agg friendly, no per-user sort window); the
      // percentile runs over the per-user latency relation — |users|
      // scale. At 100 TB the same shape feeds q104's mergeable KLL
      // sketch instead of the exact percentile; the oracle pins the
      // exact semantics (integer-second latencies sum exactly in double,
      // so even mean_sec is engine-exact).
      (s, dir) => {
        val sec = unix_timestamp(date_trunc("second", col("ts")))
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), sec.as("s"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("s")).as("t0"))
        val lat = ev.filter(col("event_type") === "purchase")
          .join(views, "user_id").filter(col("s") > col("t0"))
          .groupBy("user_id").agg(min(col("s") - col("t0")).as("lat"))
        lat.agg(count(lit(1)).cast("long").as("n_converted"),
            min("lat").cast("long").as("min_sec"),
            round(expr("percentile(lat, 0.5D)"), 6).as("p50_sec"),
            round(expr("percentile(lat, 0.9D)"), 6).as("p90_sec"),
            max("lat").cast("long").as("max_sec"),
            round(avg("lat"), 6).as("mean_sec"))
          .crossJoin(broadcast(
            views.agg(count(lit(1)).cast("long").as("n_viewers"))))
          .select(col("n_viewers"), col("n_converted"),
            when(col("n_viewers") === 0, lit(null).cast("double"))
              .otherwise(round(col("n_converted").cast("double") /
                col("n_viewers").cast("double"), 6)).as("conv_rate"),
            col("min_sec"), col("p50_sec"), col("p90_sec"),
            col("max_sec"), col("mean_sec"))
      },
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |         epoch(date_trunc('second', ts))::BIGINT AS s
        |  FROM events),
        |v AS (SELECT user_id, min(s) AS t0 FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.s - v.t0) AS lat
        |      FROM ev e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'purchase' AND e.s > v.t0
        |      GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v)::BIGINT AS n_viewers,
        |  count(*)::BIGINT AS n_converted,
        |  round(count(*)::DOUBLE / (SELECT count(*) FROM v)::DOUBLE, 6)
        |    AS conv_rate,
        |  min(lat)::BIGINT AS min_sec,
        |  round(quantile_cont(lat, 0.5), 6) AS p50_sec,
        |  round(quantile_cont(lat, 0.9), 6) AS p90_sec,
        |  max(lat)::BIGINT AS max_sec,
        |  round(avg(lat), 6) AS mean_sec
        |FROM c""".stripMargin),

    Q("q152_curriculum_order",
      // Curriculum data ordering (Bengio et al. 2009 applied to corpus
      // scheduling): stage = FIXED length boundaries (no global stats
      // pass — the boundaries are configuration), deterministic
      // md5-shuffle within stage, and the first 30 scheduled docs with
      // their global training position. The page plans as TakeOrdered
      // (never a global sort); materializing the FULL schedule is
      // q122's range-partitioned write — position within a 30-row page
      // is a metadata-scale window.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val staged = Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars"),
            when(col("n_chars") < 120, 0)
              .when(col("n_chars") < 200, 1)
              .otherwise(2).as("stage"),
            md5(col("doc_id").cast("string")).as("__k"))
        val page = staged.orderBy(col("stage"), col("__k"), col("doc_id"))
          .limit(30)
        page.withColumn("pos",
            row_number().over(Window.orderBy(col("stage"), col("__k"),
              col("doc_id"))).cast("long"))
          .select(col("pos"), col("doc_id"), col("stage"), col("n_chars"))
          .orderBy("pos")
      },
      """WITH staged AS (SELECT doc_id, n_chars,
        |    CASE WHEN n_chars < 120 THEN 0
        |         WHEN n_chars < 200 THEN 1 ELSE 2 END AS stage,
        |    md5(doc_id::VARCHAR) AS k
        |  FROM documents),
        |page AS (SELECT * FROM staged ORDER BY stage, k, doc_id LIMIT 30)
        |SELECT row_number() OVER (ORDER BY stage, k, doc_id)::BIGINT AS pos,
        |  doc_id, stage, n_chars
        |FROM page ORDER BY pos""".stripMargin),

    Q("q153_mmr_rerank",
      // MMR diversified reranking (Carbonell & Goldstein, SIGIR'98) —
      // the answer-diversification stage behind a RAG shortlist: greedy
      // λ·rel − (1−λ)·max-sim-to-picked over the brute-force top-20,
      // k=5 picks. The selection is DECLARATIVE (k chained
      // TakeOrdered(1) sub-plans over the cached shortlist — nothing
      // collected); the oracle unrolls the identical pick sequence, so
      // every greedy argmax is cross-engine-pinned.
      (s, dir) => {
        val embs = Tables.embeddings(s, dir)
        val shortlist = VectorSearch.topK(embs, "vec_id", "embedding",
            QueryVec, MmrN)
          .join(embs.select(col("vec_id").as("doc_id"), col("embedding")),
            "doc_id")
        graft.search.Mmr.rerank(shortlist, "doc_id", "vec_score",
            "embedding", MmrK, MmrLambda)
          .select(col("pos").cast("long").as("pos"), col("doc_id"),
            col("mmr"))
      },
      {
        val cosAB = {
          val dot = "list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[])"
          val na  = "sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[]))"
          val nb  = "sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))"
          s"(CASE WHEN $na = 0 OR $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END)"
        }
        val steps = (2 to MmrK).map { t =>
          val prev = if (t == 2) "s1" else s"p${t - 1}"
          s"""s$t AS (
             |  SELECT $t AS pos, id, mmr FROM (
             |    SELECT c.id, round($MmrLambda::DOUBLE * c.rel
             |        - (1.0::DOUBLE - $MmrLambda::DOUBLE) * ms.m, 6) AS mmr
             |    FROM cand c JOIN (
             |      SELECT ia AS id, max(sim) AS m FROM sims
             |      WHERE ib IN (SELECT id FROM $prev) GROUP BY ia) ms
             |      ON ms.id = c.id
             |    WHERE c.id NOT IN (SELECT id FROM $prev))
             |  ORDER BY mmr DESC, id LIMIT 1),
             |p$t AS (SELECT id FROM $prev UNION ALL SELECT id FROM s$t)"""
            .stripMargin
        }.mkString(",\n")
        val unions = (1 to MmrK).map(t => s"SELECT * FROM s$t")
          .mkString(" UNION ALL ")
        s"""WITH cand AS (
           |  SELECT vec_id AS id, round($cosSql, 6) AS rel, embedding AS v
           |  FROM embeddings ORDER BY rel DESC, id LIMIT $MmrN),
           |sims AS (
           |  SELECT a.id AS ia, b.id AS ib, round($cosAB, 6) AS sim
           |  FROM cand a JOIN cand b ON a.id <> b.id),
           |s1 AS (SELECT 1 AS pos, id, rel AS mmr FROM cand
           |       ORDER BY rel DESC, id LIMIT 1),
           |$steps
           |SELECT pos::BIGINT AS pos, id AS doc_id, mmr
           |FROM ($unions) ORDER BY pos""".stripMargin
      }),

    Q("q154_filtered_knn",
      // Metadata-filtered exact kNN (ES `knn.filter` semantics,
      // PRE-filter): predicate BEFORE scoring, so a selective filter
      // still fills k. The predicate reaches the parquet scan as a
      // pushed filter (PlanSpec-pinned); at 100 TB a partition-keyed
      // predicate prunes files before any cosine runs.
      (s, dir) => VectorSearch.topKFiltered(Tables.embeddings(s, dir),
        "vec_id", "embedding", QueryVec, 10, col("label") === 3),
      s"""SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
         |FROM embeddings WHERE label = 3
         |ORDER BY vec_score DESC, doc_id LIMIT 10""".stripMargin),

    Q("q155_ivf_filtered_knn",
      // Same filter through the persisted IVF index: the allow-set
      // semi-join is applied INSIDE the pruned probe (FAISS IDSelector
      // shape). nProbe = nCells ⇒ exact, so the filtered brute-force
      // oracle pins it bit-for-bit; tighter probes are the production
      // knob (recall floor in FilteredKnnSpec).
      (s, dir) => graft.index.IvfIndex.knnFiltered(s, ivfFor(s, dir),
        QueryVec, 10,
        Tables.embeddings(s, dir).filter(col("label") === 3)
          .select(col("vec_id")),
        nProbe = 8),
      s"""SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
         |FROM embeddings WHERE label = 3
         |ORDER BY vec_score DESC, doc_id LIMIT 10""".stripMargin),

    Q("q156_sequence_packing",
      // Training-sequence packing (GPT concat-and-chunk): md5-sharded,
      // per-shard deterministic order + running token offset, docs
      // sliced into 64-token sequences. ALL running state is per-shard
      // (window partitioned by shard — shards pack in parallel, no
      // global sort); at 100 TB nShards ≈ output-file count, so each
      // window sorts a file-sized slice. Integer `div` keeps sequence
      // ids exact past 2^53 tokens.
      (s, dir) => graft.pipeline.Packing.packStats(
        Tables.documents(s, dir), "doc_id", "text",
        nShards = 8, seqLen = 64),
      s"""WITH base AS (
         |  SELECT doc_id,
         |    ${md5LongSql("'epoch0|' || doc_id::VARCHAR")} % 8 AS shard,
         |    ${md5LongSql("doc_id::VARCHAR")} AS k,
         |    len($toksSql)::BIGINT AS n_tokens
         |  FROM documents),
         |off AS (
         |  SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY k, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS start_off
         |  FROM base),
         |lay AS (
         |  SELECT *, start_off // 64 AS seq_first,
         |    CASE WHEN n_tokens > 0
         |         THEN (start_off + n_tokens - 1) // 64
         |         ELSE start_off // 64 END AS seq_last
         |  FROM off)
         |SELECT shard, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS total_tokens,
         |  ceil(sum(n_tokens)::DOUBLE / 64)::BIGINT AS n_seqs,
         |  sum(CASE WHEN seq_last > seq_first THEN 1 ELSE 0 END)::BIGINT
         |    AS n_split_docs,
         |  round(sum(n_tokens)::DOUBLE /
         |    (ceil(sum(n_tokens)::DOUBLE / 64)::BIGINT * 64)::DOUBLE, 6)
         |    AS efficiency
         |FROM lay GROUP BY shard ORDER BY shard""".stripMargin),

    Q("q157_entity_resolution",
      // Record linkage (Fellegi-Sunter/Splink shape): blocking on the
      // 7-digit name-prefix key bounds pair cost to Σ|block|²; pairs
      // verified by Levenshtein ≤ 1 + weighted field score; transitive
      // closure (pregel label propagation) → entities; survivorship
      // elects a golden record per multi-member entity. The oracle
      // replays blocking, scoring, a recursive-CTE closure, and the
      // same survivorship rules.
      (s, dir) => graft.operators.RecordLinkage.goldenRecords(
        Tables.customer(s, dir), "c_custkey", "c_name",
        substring(col("c_name"), 10, 7), "c_acctbal",
        maxEdit = 1, minScore = 0.6)
        .orderBy("cluster_id"),
      """WITH base AS (
        |  SELECT c_custkey AS id, c_name AS nm, c_acctbal AS v,
        |         substr(c_name, 10, 7) AS blk
        |  FROM customer),
        |pairs AS (
        |  SELECT l.id AS a, r.id AS b,
        |    levenshtein(l.nm, r.nm)::BIGINT AS d,
        |    round(0.7 * (1 - levenshtein(l.nm, r.nm)::DOUBLE /
        |        greatest(len(l.nm), len(r.nm))::DOUBLE)
        |      + 0.3 / (1 + abs(l.v - r.v)), 6) AS score
        |  FROM base l JOIN base r ON l.blk = r.blk AND l.id < r.id
        |  WHERE levenshtein(l.nm, r.nm) <= 1),
        |acc AS (SELECT a, b FROM pairs WHERE score >= 0.6),
        |edges AS (SELECT a AS src, b AS dst FROM acc
        |          UNION SELECT b, a FROM acc),
        |cc AS (
        |  WITH RECURSIVE cc0(node, label) AS (
        |    SELECT id, id FROM base
        |    UNION
        |    SELECT e.dst, cc0.label FROM cc0
        |    JOIN edges e ON cc0.node = e.src)
        |  SELECT node AS id, min(label) AS cluster_id
        |  FROM cc0 GROUP BY node)
        |SELECT cluster_id, min(b.id) AS canonical_id,
        |  count(*)::BIGINT AS n_members,
        |  max(b.v) AS survivor_value,
        |  sum(b.v::DECIMAL(18,4))::DOUBLE AS total_value
        |FROM base b JOIN cc USING (id)
        |GROUP BY cluster_id HAVING count(*) > 1
        |ORDER BY cluster_id""".stripMargin),

    Q("q158_incremental_mv",
      // Incremental materialized-view maintenance (Gupta-Mumick delta
      // algebra): MV(v2) = MV(v1) ⊎ Δ where Δ aggregates ONLY the
      // changed rows of the snapshot diff (insert/delete/update-both-
      // sides) — the corpus is never re-aggregated. The flow exercises
      // the real SnapshotCatalog (two committed versions in a temp
      // table); the oracle recomputes the v2 aggregate from scratch, so
      // a green row proves incremental ≡ recompute.
      (s, dir) => {
        import graft.table.{MaterializedView, SnapshotCatalog}
        val base =
          java.nio.file.Files.createTempDirectory("graft_mv_").toString
        val cat = SnapshotCatalog(s, base)
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        // v1: every tenth key missing; v2: every 13th-mod-1 key deleted,
        // the tenth keys (re)inserted, every seventh acctbal bumped
        val v1 = cat.write("t", cust.filter(col("c_custkey") % 10 =!= 0))
        val v2 = cat.write("t", cust.filter(col("c_custkey") % 13 =!= 1)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
              .otherwise(col("c_acctbal"))))
        val mv1 = MaterializedView.refresh(cat.readAt("t", v1),
          "c_mktsegment", "c_acctbal")
        MaterializedView.maintain(mv1, cat.readAt("t", v1),
            cat.readAt("t", v2), "c_custkey", "c_mktsegment", "c_acctbal")
          .select(col("c_mktsegment"), col("n_rows"),
            col("total").cast("double").as("total_bal"))
          .orderBy("c_mktsegment")
      },
      """SELECT c_mktsegment, count(*)::BIGINT AS n_rows,
        |  sum(c_acctbal::DECIMAL(18,4))::DOUBLE AS total_bal
        |FROM (
        |  SELECT c_mktsegment,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 13 <> 1)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    Q("q159_top_hits",
      // ES terms + top_hits: per-source top-3 documents by length. The
      // per-bucket shortlist comes from the k-bounded TopKByScoreAgg
      // (partial-agg friendly, each map task keeps ≤ k rows per bucket)
      // — NEVER a row_number window over the corpus; the oracle uses the
      // window formulation, pinning the agg's (score desc, id asc)
      // order cross-engine.
      (s, dir) => org.apache.spark.sql.graftext.TopKByScoreAgg.ranked(
          Tables.documents(s, dir), "source", col("n_chars").cast("double"),
          3, "hit_chars")
        .select(col("source"), col("rank").as("rk"), col("doc_id"),
          col("hit_chars").cast("long").as("hit_chars"))
        .orderBy("source", "rk"),
      """SELECT source, rk, doc_id, hit_chars FROM (
        |  SELECT source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rk,
        |    doc_id, n_chars AS hit_chars
        |  FROM documents)
        |WHERE rk <= 3 ORDER BY source, rk""".stripMargin),

    Q("q160_adjacency_matrix",
      // ES adjacency_matrix agg: named filters A/B/C and their pairwise
      // intersections counted in ONE scan of conditional partial aggs —
      // no self-join, no N passes; at 100 TB this is a single
      // map-side-combined traversal regardless of filter count.
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val fa = col("lang") === "en"
        val fb = col("n_chars") >= 150
        val fc = col("text").contains("data")
        def cnt(p: Column) = sum(when(p, 1L).otherwise(0L))
        d.agg(cnt(fa).as("a"), cnt(fb).as("b"), cnt(fc).as("c"),
          cnt(fa && fb).as("a_b"), cnt(fa && fc).as("a_c"),
          cnt(fb && fc).as("b_c"))
      },
      """SELECT
        |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS a,
        |  sum(CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END)::BIGINT AS b,
        |  sum(CASE WHEN text LIKE '%data%' THEN 1 ELSE 0 END)::BIGINT AS c,
        |  sum(CASE WHEN lang = 'en' AND n_chars >= 150
        |      THEN 1 ELSE 0 END)::BIGINT AS a_b,
        |  sum(CASE WHEN lang = 'en' AND text LIKE '%data%'
        |      THEN 1 ELSE 0 END)::BIGINT AS a_c,
        |  sum(CASE WHEN n_chars >= 150 AND text LIKE '%data%'
        |      THEN 1 ELSE 0 END)::BIGINT AS b_c
        |FROM documents""".stripMargin),

    Q("q161_auto_date_histogram",
      // ES auto_date_histogram: the engine PICKS the interval — smallest
      // rung of the {minute, hour, day, week, 30-day} ladder that fits
      // the data span into ≤ 20 buckets. The span comes from a 1-row
      // min/max agg broadcast back over the scan (metadata-scale, the
      // q151 pattern); the choice is a CASE over that row, so the whole
      // thing is ONE plan — no driver-side branching — and bucket ids
      // are integer `div` arithmetic (exact at any scale).
      (s, dir) => {
        val sec = unix_timestamp(date_trunc("second", col("ts")))
        val ev = Tables.events(s, dir).select(sec.as("s"), col("value"))
        val iv = Seq(60L, 3600L, 86400L, 604800L).foldRight(
          lit(2592000L).cast("long")) { (i, acc) =>
          when(expr(s"(mx - mn) div $i") + 1 <= 20, lit(i)).otherwise(acc)
        }
        val stats = ev.agg(min("s").as("mn"), max("s").as("mx"))
          .select(iv.as("iv"))
        ev.crossJoin(broadcast(stats))
          .groupBy(expr("s div iv").as("bucket"), col("iv"))
          .agg(count(lit(1)).cast("long").as("n_events"),
            sum(d184(col("value"))).cast("double").as("sum_value"))
          .select((col("bucket") * col("iv")).cast("long")
              .as("bucket_start_sec"),
            col("iv").cast("long").as("interval_sec"),
            col("n_events"), col("sum_value"))
          .orderBy("bucket_start_sec")
      },
      """WITH ev AS (
        |  SELECT epoch(date_trunc('second', ts))::BIGINT AS s, value
        |  FROM events),
        |st AS (SELECT min(s) AS mn, max(s) AS mx FROM ev),
        |iv AS (SELECT CASE
        |    WHEN (mx - mn) // 60 + 1 <= 20 THEN 60
        |    WHEN (mx - mn) // 3600 + 1 <= 20 THEN 3600
        |    WHEN (mx - mn) // 86400 + 1 <= 20 THEN 86400
        |    WHEN (mx - mn) // 604800 + 1 <= 20 THEN 604800
        |    ELSE 2592000 END AS iv FROM st)
        |SELECT (s // iv * iv)::BIGINT AS bucket_start_sec,
        |  iv::BIGINT AS interval_sec,
        |  count(*)::BIGINT AS n_events,
        |  sum(value::DECIMAL(18,4))::DOUBLE AS sum_value
        |FROM ev, iv
        |GROUP BY 1, 2 ORDER BY bucket_start_sec""".stripMargin),

    Q("q162_domain_prior",
      // Per-domain quality prior with empirical-Bayes shrinkage toward
      // the corpus mean: shrunk = (Σq + m·ḡ)/(n + m), m = 20 — the
      // weight that stops a lucky 10-doc domain from dominating
      // curation. Two agg levels; the global mean is a broadcast 1-row
      // relation (q151 pattern). Domains relation is metadata-scale at
      // any corpus size.
      (s, dir) => graft.pipeline.DomainCuration.domainQualityPrior(
        Tables.documents(s, dir), "source", "text")
        .orderBy("domain"),
      s"""WITH scored AS (
         |  SELECT source AS domain, $qualitySql AS q FROM documents),
         |per AS (SELECT domain, count(*)::BIGINT AS n_docs,
         |        sum(q) AS sq FROM scored GROUP BY domain),
         |g AS (SELECT sum(q) / count(*) AS gmean FROM scored)
         |SELECT domain, n_docs,
         |  round(sq / n_docs, 6) AS raw_mean,
         |  round((sq + 20.0 * gmean) / (n_docs + 20.0), 6) AS shrunk_mean
         |FROM per, g ORDER BY domain""".stripMargin),

    Q("q163_mixture_temperature",
      // Temperature mixture (GPT-3/Pile recipe): domain weight
      // p ∝ tokens^0.5 (sqrt on BOTH engines for bit parity), keep rate
      // min(1, B·p/T) rounded to ppm, admission by md5 % 1e6 — the
      // hashSample convention, so the admitted set is integer-exact and
      // engine-identical. Per-domain rates are a broadcast
      // metadata-scale relation; the corpus is scanned once.
      (s, dir) => graft.pipeline.DomainCuration.temperatureMixture(
        Tables.documents(s, dir), "source", "doc_id", "text", 20000L)
        .orderBy("domain"),
      s"""WITH base AS (
         |  SELECT source AS domain, doc_id,
         |    len($toksSql)::BIGINT AS t,
         |    ${md5LongSql("doc_id::VARCHAR")} % 1000000 AS h
         |  FROM documents),
         |per AS (SELECT domain, count(*)::BIGINT AS n_docs,
         |        sum(t)::BIGINT AS n_tokens FROM base GROUP BY domain),
         |tot AS (SELECT sum(sqrt(n_tokens::DOUBLE)) AS ss FROM per),
         |rates AS (
         |  SELECT domain, n_docs, n_tokens,
         |    round(least(1.0, 20000.0 *
         |      (sqrt(n_tokens::DOUBLE) / ss) / n_tokens::DOUBLE), 6)
         |      AS rate,
         |    round(round(least(1.0, 20000.0 *
         |      (sqrt(n_tokens::DOUBLE) / ss) / n_tokens::DOUBLE), 6)
         |      * 1e6)::BIGINT AS ppm
         |  FROM per, tot)
         |SELECT r.domain, r.n_docs, r.n_tokens, r.rate,
         |  sum(CASE WHEN b.h < r.ppm THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  sum(CASE WHEN b.h < r.ppm THEN b.t ELSE 0 END)::BIGINT
         |    AS kept_tokens
         |FROM base b JOIN rates r ON b.domain = r.domain
         |GROUP BY r.domain, r.n_docs, r.n_tokens, r.rate
         |ORDER BY r.domain""".stripMargin),

    Q("q164_triangle_count",
      // Compact-forward triangle counting over the ER link graph
      // (q157's accepted pairs as canonically oriented edges): wedges =
      // edge-edge join on the middle vertex, a wedge closes iff its
      // endpoint pair is an edge (semi-join). Two shuffles, nothing
      // collected; the oracle replays blocking, scoring and both joins.
      (s, dir) => graft.operators.Triangles.count(
        graft.operators.RecordLinkage.linkPairs(
          Tables.customer(s, dir), "c_custkey", "c_name",
          substring(col("c_name"), 10, 7), "c_acctbal",
          maxEdit = 1, minScore = 0.6).select("a", "b")),
      """WITH base AS (
        |  SELECT c_custkey AS id, c_name AS nm, c_acctbal AS v,
        |         substr(c_name, 10, 7) AS blk
        |  FROM customer),
        |e AS (
        |  SELECT l.id AS a, r.id AS b
        |  FROM base l JOIN base r ON l.blk = r.blk AND l.id < r.id
        |  WHERE levenshtein(l.nm, r.nm) <= 1
        |    AND round(0.7 * (1 - levenshtein(l.nm, r.nm)::DOUBLE /
        |          greatest(len(l.nm), len(r.nm))::DOUBLE)
        |        + 0.3 / (1 + abs(l.v - r.v)), 6) >= 0.6),
        |w AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |      FROM e e1 JOIN e e2 ON e1.b = e2.a),
        |c AS (SELECT * FROM w WHERE EXISTS (
        |        SELECT 1 FROM e WHERE e.a = w.x AND e.b = w.z))
        |SELECT (SELECT count(*) FROM w)::BIGINT AS n_wedges,
        |  (SELECT count(*) FROM c)::BIGINT AS n_triangles,
        |  round((SELECT count(*) FROM c)::DOUBLE /
        |        (SELECT count(*) FROM w)::DOUBLE, 6) AS closure_rate"""
        .stripMargin),

    Q("q165_doc_keywords",
      // Per-doc keyword tagging: top-3 tf·idf terms (smoothed sklearn
      // idf) for the first 20 docs, with document frequencies from the
      // WHOLE corpus (the df relation is vocabulary-scale and reusable;
      // the tf side is pruned to the tagged docs). Per-doc top-k is a
      // collect bounded by the doc's own vocabulary — never a corpus
      // window; scores round to 6 dp BEFORE ranking so (score desc,
      // term asc) is engine-exact.
      (s, dir) => graft.text.Keywords.topTfidfTerms(
        Tables.documents(s, dir), "doc_id", "text", 3,
        forDocs = col("doc_id") < 20)
        .orderBy("doc_id", "rk"),
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
         |       FROM toks GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*)::DOUBLE AS df
         |          FROM tf GROUP BY term),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 6)
         |      AS score
         |  FROM tf JOIN dfreq USING (term), n
         |  WHERE tf.doc_id < 20)
         |SELECT doc_id, rk, term, score FROM (
         |  SELECT doc_id, term, score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, term) AS rk
         |  FROM scored)
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),

    Q("q166_bitext_mining",
      // Bitext mining (the LASER/CCMatrix shape): cross-lingual document
      // pairs = embedding near-dup candidates from LSH buckets (q26's
      // bucketed in-group combinations — never corpus²), kept when the
      // two sides report DIFFERENT languages. The parallel-corpus miner
      // for translation training data.
      (s, dir) => {
        val langs = Tables.documents(s, dir).select("doc_id", "lang")
        Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir),
            "vec_id", "embedding", EmbedDim, 0.1)
          .join(langs.toDF("a", "lang_a"), "a")
          .join(langs.toDF("b", "lang_b"), "b")
          .filter(col("lang_a") =!= col("lang_b"))
          .select("a", "b", "lang_a", "lang_b", "cos")
          .orderBy("a", "b")
      },
      {
        val cosAB = {
          val dot = "list_dot_product(va::DOUBLE[], vb::DOUBLE[])"
          val na  = "sqrt(list_dot_product(va::DOUBLE[], va::DOUBLE[]))"
          val nb  = "sqrt(list_dot_product(vb::DOUBLE[], vb::DOUBLE[]))"
          s"(CASE WHEN $na = 0 OR $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END)"
        }
        s"""WITH bucketed AS (
           |  SELECT vec_id AS id, embedding AS v, ${lshBucketSql()} AS bucket
           |  FROM embeddings),
           |ok AS (SELECT bucket FROM bucketed GROUP BY bucket
           |       HAVING count(*) <= ${Dedup.MaxGroupSize}),
           |pairs AS (
           |  SELECT a, b, cos FROM (
           |    SELECT l.id AS a, r.id AS b,
           |      round($cosAB, 6) AS cos
           |    FROM (SELECT id, v AS va, bucket FROM bucketed) l
           |    JOIN (SELECT id, v AS vb, bucket FROM bucketed) r
           |      ON l.bucket = r.bucket
           |    WHERE l.id < r.id
           |      AND l.bucket IN (SELECT bucket FROM ok))
           |  WHERE cos >= 0.1)
           |SELECT p.a, p.b, da.lang AS lang_a, db.lang AS lang_b, p.cos
           |FROM pairs p
           |JOIN documents da ON da.doc_id = p.a
           |JOIN documents db ON db.doc_id = p.b
           |WHERE da.lang <> db.lang
           |ORDER BY p.a, p.b""".stripMargin
      }),

    Q("q167_psi_drift",
      // Population Stability Index between the first and second half of
      // the event stream (time-split on the midpoint): bins = reference
      // deciles (ONE percentile agg, 1-row broadcast), Laplace-smoothed
      // proportions, per-bin PSI contribution. The data-quality drift
      // gate in front of a training run; everything after the binned
      // counts is a 10-row grid.
      (s, dir) => {
        val sec = unix_timestamp(date_trunc("second", col("ts")))
        val ev = Tables.events(s, dir).select(sec.as("s"), col("value"))
        val mid = ev.agg(((min("s") + max("s")) / 2).cast("long").as("m"))
        graft.operators.Drift.psiBins(
          ev.crossJoin(broadcast(mid)), "value", col("s") <= col("m"))
      },
      """WITH ev AS (
        |  SELECT epoch(date_trunc('second', ts))::BIGINT AS s, value
        |  FROM events),
        |m AS (SELECT (min(s) + max(s)) // 2 AS m FROM ev),
        |sided AS (SELECT value AS v, s <= m AS is_ref FROM ev, m),
        |esr AS (
        |  SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
        |                           0.6, 0.7, 0.8, 0.9]) AS qs
        |  FROM sided WHERE is_ref),
        |es AS (SELECT round(unnest(qs), 6) AS e FROM esr),
        |binned AS (
        |  SELECT (SELECT count(*) FROM es WHERE sided.v > es.e) + 1
        |    AS bin, is_ref FROM sided),
        |counts AS (
        |  SELECT bin::BIGINT AS bin,
        |    sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS ref_n,
        |    sum(CASE WHEN is_ref THEN 0 ELSE 1 END)::BIGINT AS cur_n
        |  FROM binned GROUP BY bin),
        |tot AS (SELECT sum(ref_n) AS rt, sum(cur_n) AS ct FROM counts)
        |SELECT bin, ref_n, cur_n,
        |  round(((cur_n + 0.5) / (ct + 5.0) - (ref_n + 0.5) / (rt + 5.0))
        |    * ln(((cur_n + 0.5) / (ct + 5.0)) /
        |         ((ref_n + 0.5) / (rt + 5.0))), 6) AS psi_bin
        |FROM counts, tot ORDER BY bin""".stripMargin),

    Q("q168_search_collapse",
      // ES field collapsing: BM25 top-20 through the persisted index,
      // collapsed to the best hit per source (min-struct, no window),
      // top-5 collapsed groups. The dedup-by-site SERP shape; all
      // collapse algebra runs over the 20-row candidate set.
      (s, dir) => {
        val hits = graft.index.SearchIndex.bm25(s, indexFor(s, dir),
            QueryText)
          .select(col("doc_id"), round(col("text_score"), 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
        hits.join(Tables.documents(s, dir).select("doc_id", "source"),
            "doc_id")
          .groupBy("source")
          .agg(min(struct((col("bm25") * -1).as("nb"),
            col("doc_id").as("d"))).as("m"))
          .select(col("source"), col("m.d").as("doc_id"),
            (col("m.nb") * -1).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id").asc).limit(5)
      },
      null), // oracle assigned in allQueries: q28's BM25 CTE + collapse

    Q("q169_merge_upsert",
      // MERGE INTO (lakehouse upsert) against the snapshot catalog: one
      // batch carrying updates (replace), inserts and tombstone deletes,
      // applied as ONE full-outer join and committed as a new version.
      // The oracle replays the merge algebra; the Spark side exercises
      // the real catalog (write → mergeUpsert → read committed state).
      (s, dir) => {
        import graft.table.SnapshotCatalog
        val base =
          java.nio.file.Files.createTempDirectory("graft_merge_").toString
        val cat = SnapshotCatalog(s, base)
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        cat.write("t", cust.filter(col("c_custkey") % 10 =!= 0))
        val batch = cust
          .filter(col("c_custkey") % 7 === 0 ||
            col("c_custkey") % 10 === 0 || col("c_custkey") % 13 === 1)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 7 === 0, col("c_acctbal") + 500.0)
              .otherwise(col("c_acctbal")))
          .withColumn("is_del", col("c_custkey") % 13 === 1)
        cat.mergeUpsert("t", batch, "c_custkey", Some("is_del"))
        cat.read("t").groupBy("c_mktsegment")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(d184(col("c_acctbal"))).cast("double").as("total_bal"))
          .orderBy("c_mktsegment")
      },
      """WITH v1 AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |  WHERE c_custkey % 10 <> 0),
        |batch AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 500.0
        |         ELSE c_acctbal END AS c_acctbal,
        |    (c_custkey % 13 = 1) AS is_del
        |  FROM customer
        |  WHERE c_custkey % 7 = 0 OR c_custkey % 10 = 0
        |     OR c_custkey % 13 = 1),
        |merged AS (
        |  SELECT
        |    CASE WHEN b.c_custkey IS NOT NULL THEN b.c_mktsegment
        |         ELSE t.c_mktsegment END AS c_mktsegment,
        |    CASE WHEN b.c_custkey IS NOT NULL THEN b.c_acctbal
        |         ELSE t.c_acctbal END AS bal
        |  FROM v1 t FULL OUTER JOIN batch b
        |    ON t.c_custkey = b.c_custkey
        |  WHERE b.is_del IS NULL OR NOT b.is_del)
        |SELECT c_mktsegment, count(*)::BIGINT AS n_rows,
        |  sum(bal::DECIMAL(18,4))::DOUBLE AS total_bal
        |FROM merged GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),

    Q("q170_dataset_card",
      // Dataset datasheet (the "datasheets for datasets" summary a
      // curation run publishes): per-language doc/token counts, mean
      // quality, median length, and exact-duplicate exposure — ONE
      // composed plan: hash groups decide dup membership (partial-agg
      // min/max trick — no distinct-count), everything else is a single
      // scan of partial aggs.
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("lang"),
          col("doc_id"), col("n_chars"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextFunctions.tokenCount(col("text")).as("t"),
          md5(col("text")).as("h"))
        val dup = d.groupBy("h")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).select("h")
        d.join(dup.withColumn("is_dup", lit(true)), Seq("h"), "left")
          .groupBy("lang")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("t")).as("n_tokens"),
            round(avg(col("q")), 6).as("mean_quality"),
            round(expr("percentile(n_chars, 0.5D)"), 6).as("p50_chars"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_docs"))
          .orderBy("lang")
      },
      s"""WITH d AS (
         |  SELECT lang, doc_id, n_chars, $qualitySql AS q,
         |    len($toksSql)::BIGINT AS t, md5(text) AS h
         |  FROM documents),
         |dup AS (SELECT h FROM d GROUP BY h HAVING count(*) > 1)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(t)::BIGINT AS n_tokens,
         |  round(avg(q), 6) AS mean_quality,
         |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
         |  sum(CASE WHEN d.h IN (SELECT h FROM dup)
         |      THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin),

    Q("q171_leakage_safe_split",
      // Leakage-safe train/eval split: the split unit is the NEAR-DUP
      // CLUSTER (q60's connected components), so no near-duplicate of
      // an eval doc can sit in training — the guard a benchmark-honest
      // pretraining pipeline runs before any eval. Split is md5-ppm on
      // the cluster id; the oracle replays LSH pairs, the recursive
      // closure and the same split arithmetic.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val clusters = Dedup.nearDupClusters(docs, "doc_id",
          Dedup.minhashCandidatePairs(docs, "doc_id", "text"))
        graft.pipeline.Sampling.groupSplit(
            docs.join(clusters, "doc_id"), col("cluster_id"), 0.8)
          .groupBy("split")
          .agg(countDistinct("cluster_id").cast("long").as("n_clusters"),
            count(lit(1)).cast("long").as("n_docs"),
            sum(TextFunctions.tokenCount(col("text"))).as("n_tokens"))
          .orderBy("split")
      },
      s"""WITH RECURSIVE ${minhashPairCtes()},
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |cc(node, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src),
         |lab AS (SELECT node AS doc_id, min(label) AS cluster_id
         |        FROM cc GROUP BY node)
         |SELECT CASE WHEN ${md5LongSql("cluster_id::VARCHAR")} % 1000000
         |         < 800000 THEN 'train' ELSE 'eval' END AS split,
         |  count(DISTINCT cluster_id)::BIGINT AS n_clusters,
         |  count(*)::BIGINT AS n_docs,
         |  sum(len($toksSql))::BIGINT AS n_tokens
         |FROM documents JOIN lab USING (doc_id)
         |GROUP BY split ORDER BY split""".stripMargin),

    Q("q172_incremental_clusters",
      // Continuous dedup: the corpus is clustered once (q60's CC), then
      // a batch arrives — cross pairs from the persisted band index
      // (q71's discovery, O(|batch|)), batch-internal pairs from the
      // batch alone, and ONLY the touched clusters re-resolve (old
      // connectivity collapses to star edges through the label node).
      // The oracle is a FULL CC over the whole corpus: a green row
      // proves incremental ≡ recompute, label for label.
      (s, dir) => {
        val docs  = Tables.documents(s, dir)
        val batch = docs.filter(col("doc_id") % 5 === 0)
        // pre-existing corpus state (labels + band index) is persisted
        // infrastructure — the query pays only the incremental cost
        val (lblDir, idxDir) = clusterStateFor(s, dir)
        val oldLabels = Tables.loadPath(s, lblDir)
        val idx = Tables.loadPath(s, idxDir)
        // sign the batch ONCE; both pair discoveries reuse the
        // checkpointed signatures
        val sigs = Dedup.minhashSignatures(batch, "doc_id", "text")
          .localCheckpoint(true)
        val newPairs = Dedup.incrementalCandidatePairsFromBands(idx,
            Dedup.minhashBandIndexFromSigs(sigs))
          .unionByName(Dedup.minhashCandidatePairsFromSigs(sigs))
        Dedup.incrementalClusters(oldLabels, "doc_id",
            batch.select("doc_id"), newPairs)
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE ${minhashPairCtes()},
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |cc(node, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src)
         |SELECT node AS doc_id, min(label)::BIGINT AS cluster_id
         |FROM cc GROUP BY node ORDER BY doc_id""".stripMargin),

    Q("q173_blocklist_filter",
      // C4-style blocklist gate: token-level matching (list intersect —
      // word boundaries for free, no regex), per-language flag rates
      // and the token mass a removal would cost. One codegen'd scan +
      // one partial agg; the blocklist broadcasts as a literal.
      (s, dir) => {
        val toks = TextFunctions.tokens(col("text"))
        val hit = size(array_intersect(toks,
          typedLit(BlocklistTerms))) > 0
        Tables.documents(s, dir)
          .select(col("lang"), hit.as("flagged"),
            TextFunctions.tokenCount(col("text")).as("t"))
          .groupBy("lang")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
            round(sum(when(col("flagged"), 1L).otherwise(0L))
              .cast("double") / count(lit(1)).cast("double"), 6)
              .as("flag_rate"),
            sum(when(col("flagged"), col("t")).otherwise(0L))
              .as("flagged_tokens"))
          .orderBy("lang")
      },
      s"""SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
         |  round(sum(CASE WHEN hit THEN 1 ELSE 0 END)::DOUBLE
         |        / count(*)::DOUBLE, 6) AS flag_rate,
         |  sum(CASE WHEN hit THEN t ELSE 0 END)::BIGINT AS flagged_tokens
         |FROM (
         |  SELECT lang,
         |    len(list_intersect($toksSql, $blocklistSql)) > 0 AS hit,
         |    len($toksSql)::BIGINT AS t
         |  FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin),

    Q("q174_rouge_eval",
      // ROUGE-2 over the minhash candidate pairs: distinct-bigram
      // precision/recall/F1 of doc b against doc a — the summarization/
      // paraphrase eval harness, run only on LSH candidates (never
      // corpus²). Top-30 by F1.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val sh = docs.select(col("doc_id"),
          array_distinct(TextFunctions.shingles(
            TextFunctions.tokens(col("text")), 2)).as("sh"))
        val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
        pairs
          .join(sh.toDF("a", "sh_a"), "a")
          .join(sh.toDF("b", "sh_b"), "b")
          .select(col("a"), col("b"),
            size(array_intersect(col("sh_a"), col("sh_b")))
              .cast("double").as("inter"),
            size(col("sh_a")).cast("double").as("na"),
            size(col("sh_b")).cast("double").as("nb"))
          .filter(col("na") > 0 && col("nb") > 0)
          .select(col("a"), col("b"),
            round(col("inter") / col("nb"), 6).as("rouge2_p"),
            round(col("inter") / col("na"), 6).as("rouge2_r"),
            round(when(col("inter") === 0, 0.0)
              .otherwise(lit(2.0) * (col("inter") / col("nb")) *
                (col("inter") / col("na")) /
                ((col("inter") / col("nb")) + (col("inter") / col("na")))),
              6).as("rouge2_f"))
          .orderBy(col("rouge2_f").desc, col("a").asc, col("b").asc)
          .limit(30)
      },
      {
        val sh2 = "[l[i] || ' ' || l[i+1] for i in range(1, len(l))]"
        s"""WITH ${minhashPairCtes()},
           |sh AS (
           |  SELECT doc_id, list_distinct($sh2) AS s
           |  FROM (SELECT doc_id, $toksSql AS l FROM documents)),
           |scored AS (
           |  SELECT p.a, p.b,
           |    len(list_intersect(sa.s, sb.s))::DOUBLE AS inter,
           |    len(sa.s)::DOUBLE AS na, len(sb.s)::DOUBLE AS nb
           |  FROM pairs p
           |  JOIN sh sa ON sa.doc_id = p.a
           |  JOIN sh sb ON sb.doc_id = p.b
           |  WHERE len(sa.s) > 0 AND len(sb.s) > 0)
           |SELECT a, b, round(inter / nb, 6) AS rouge2_p,
           |  round(inter / na, 6) AS rouge2_r,
           |  round(CASE WHEN inter = 0 THEN 0.0
           |    ELSE 2 * (inter / nb) * (inter / na) /
           |         ((inter / nb) + (inter / na)) END, 6) AS rouge2_f
           |FROM scored
           |ORDER BY rouge2_f DESC, a, b LIMIT 30""".stripMargin
      }),

    Q("q175_revenue_attribution",
      // Last-touch revenue attribution: each purchase credits the
      // user's most recent preceding touch (view/click/signup) via the
      // engine's as-of join — one shuffle + one ordered carry, no
      // per-purchase lookup; purchases with no prior touch fall into
      // 'none'. Shares are decimal-exact sums over a broadcast 1-row
      // total.
      (s, dir) => {
        import graft.operators.AsOfJoin
        val ev = Tables.events(s, dir)
          .withColumn("ts", date_trunc("second", col("ts")))
        val touches = ev
          .filter(col("event_type").isin("view", "click", "signup"))
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("touch_type"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        val attributed = AsOfJoin.asOf(purchases, touches,
            Seq("user_id"), "ts", "ts", Seq("touch_type"),
            tiebreak = "event_id")
          .select(coalesce(col("touch_type"), lit("none"))
            .as("touch_type"), col("value"))
        val per = attributed.groupBy("touch_type")
          .agg(count(lit(1)).cast("long").as("n_purchases"),
            sum(d184(col("value"))).as("rev"))
        per.crossJoin(broadcast(
            per.agg(sum(col("rev")).as("tot"))))
          .select(col("touch_type"), col("n_purchases"),
            col("rev").cast("double").as("attributed_revenue"),
            round(col("rev").cast("double") / col("tot").cast("double"),
              6).as("revenue_share"))
          .orderBy("touch_type")
      },
      """WITH p AS (
        |  SELECT user_id, date_trunc('second', ts) AS ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |att AS (
        |  SELECT coalesce(
        |    (SELECT e.event_type FROM events e
        |     WHERE e.user_id = p.user_id
        |       AND e.event_type IN ('view', 'click', 'signup')
        |       AND date_trunc('second', e.ts) <= p.ts
        |     ORDER BY date_trunc('second', e.ts) DESC, e.event_id DESC
        |     LIMIT 1), 'none') AS touch_type, p.value
        |  FROM p),
        |per AS (
        |  SELECT touch_type, count(*)::BIGINT AS n_purchases,
        |    sum(value::DECIMAL(18,4)) AS rev
        |  FROM att GROUP BY touch_type)
        |SELECT touch_type, n_purchases, rev::DOUBLE AS attributed_revenue,
        |  round(rev::DOUBLE / (SELECT sum(rev) FROM per)::DOUBLE, 6)
        |    AS revenue_share
        |FROM per ORDER BY touch_type""".stripMargin),

    Q("q176_mv_rewrite",
      // Transparent MV answering: the user's aggregate targets the BASE
      // table; the MvRewrite optimizer rule (registered on the session,
      // MV maintained by MaterializedView.refresh) substitutes the
      // |groups|-row MV scan with original names and ExprIds.
      // MvRewriteSpec pins that the rewrite actually fires (scan paths)
      // and its guardrails; this row pins cross-engine value parity of
      // the served result.
      (s, dir) => {
        import org.apache.spark.sql.graftext.MvRewrite
        if (!s.experimental.extraOptimizations.contains(MvRewrite))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ MvRewrite
        val basePath = s"$dir/customer.parquet"
        val mvPath =
          java.nio.file.Files.createTempDirectory("graft_mvrw_").toString
        LocalFs.write(graft.table.MaterializedView.refresh(
            s.read.parquet(basePath), "c_mktsegment", "c_acctbal"))
          .mode("overwrite").parquet(mvPath)
        MvRewrite.register(s, basePath, mvPath, "c_mktsegment",
          "c_acctbal")
        s.read.parquet(basePath).groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"),
            sum(d184(col("c_acctbal"))).as("tot"))
          .select(col("c_mktsegment"), col("n_rows"),
            col("tot").cast("double").as("total_bal"))
          .orderBy("c_mktsegment")
      },
      """SELECT c_mktsegment, count(*)::BIGINT AS n_rows,
        |  sum(c_acctbal::DECIMAL(18,4))::DOUBLE AS total_bal
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),

    Q("q177_mad_outliers",
      // Robust per-group anomaly gate: median + MAD (the outlier test
      // that survives the outliers it hunts, unlike z-scores), flag =
      // |v − med| > 3σ̂ with σ̂ = 1.4826·MAD. Two grid-size percentile
      // aggs broadcast back over the scan (5 event types); medians and
      // the threshold are rounded to 6 dp so the flag boundary is
      // engine-exact.
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"),
          col("value"))
        val med = ev.groupBy("event_type")
          .agg(round(expr("percentile(value, 0.5D)"), 6).as("med"))
        val dev = ev.join(broadcast(med), "event_type")
          .withColumn("ad", abs(col("value") - col("med")))
        val mad = dev.groupBy("event_type")
          .agg(round(expr("percentile(ad, 0.5D)"), 6).as("mad"))
        dev.join(broadcast(mad), "event_type")
          .withColumn("thr", round(lit(3 * 1.4826) * col("mad"), 6))
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            min(col("med")).as("med"), min(col("mad")).as("mad"),
            sum(when(col("ad") > col("thr"), 1L).otherwise(0L))
              .as("n_outliers"))
          .orderBy("event_type")
      },
      """WITH med AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_type, e.value, m.med,
        |    abs(e.value - m.med) AS ad
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type, count(*)::BIGINT AS n,
        |  min(d.med) AS med, min(m.mad) AS mad,
        |  sum(CASE WHEN d.ad > round(4.4478 * m.mad, 6)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),

    Q("q178_point_in_time_features",
      // Feature-store point-in-time join (Feast/Tecton): per purchase
      // label, features from events STRICTLY before the label instant —
      // same-second events excluded, the leakage guard. Each feature
      // family is ONE keyed ordered pass (union + per-user window, the
      // as-of shape); the oracle recomputes every feature with strict
      // correlated subqueries.
      (s, dir) => {
        import graft.operators.PointInTime.strictPriorStats
        val sec = unix_timestamp(date_trunc("second", col("ts")))
        val ev = Tables.events(s, dir).select(col("user_id"),
          sec.as("s"), col("event_type"), col("event_id"), col("value"))
        val labels = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("s"),
            col("event_id").as("label_id"))
        val fv = strictPriorStats(labels,
          ev.filter(col("event_type") === "view"),
          "user_id", "s", "s", None, "views")
        val fc = strictPriorStats(labels,
          ev.filter(col("event_type") === "click"),
          "user_id", "s", "s", None, "clicks")
        val fp = strictPriorStats(labels,
          ev.filter(col("event_type") === "purchase"),
          "user_id", "s", "s", Some("value"), "prior")
        labels
          .join(fv.select("label_id", "views_n"), "label_id")
          .join(fc.select("label_id", "clicks_last_s"), "label_id")
          .join(fp.select("label_id", "prior_n", "prior_sum"), "label_id")
          .select(col("label_id"), col("user_id"), col("s"),
            col("views_n").as("n_views_before"),
            coalesce(col("s") - col("clicks_last_s"), lit(-1L))
              .as("click_gap_sec"),
            col("prior_n").as("n_prior_purchases"),
            when(col("prior_n") === 0, 0.0)
              .otherwise(round(col("prior_sum") / col("prior_n"), 6))
              .as("prior_avg_value"))
          .orderBy("label_id")
      },
      """WITH ev AS (
        |  SELECT user_id, epoch(date_trunc('second', ts))::BIGINT AS s,
        |         event_type, event_id, value
        |  FROM events),
        |p AS (SELECT user_id, s, event_id AS label_id FROM ev
        |      WHERE event_type = 'purchase')
        |SELECT p.label_id, p.user_id, p.s,
        |  (SELECT count(*) FROM ev e WHERE e.user_id = p.user_id
        |     AND e.event_type = 'view' AND e.s < p.s)::BIGINT
        |    AS n_views_before,
        |  coalesce(p.s - (SELECT max(e.s) FROM ev e
        |     WHERE e.user_id = p.user_id AND e.event_type = 'click'
        |       AND e.s < p.s), -1)::BIGINT AS click_gap_sec,
        |  (SELECT count(*) FROM ev e WHERE e.user_id = p.user_id
        |     AND e.event_type = 'purchase' AND e.s < p.s)::BIGINT
        |    AS n_prior_purchases,
        |  CASE WHEN (SELECT count(*) FROM ev e
        |        WHERE e.user_id = p.user_id
        |          AND e.event_type = 'purchase' AND e.s < p.s) = 0
        |    THEN 0.0
        |    ELSE round((SELECT sum(e.value) FROM ev e
        |        WHERE e.user_id = p.user_id
        |          AND e.event_type = 'purchase' AND e.s < p.s)
        |      / (SELECT count(*) FROM ev e
        |        WHERE e.user_id = p.user_id
        |          AND e.event_type = 'purchase' AND e.s < p.s), 6)
        |  END AS prior_avg_value
        |FROM p ORDER BY p.label_id""".stripMargin),

    Q("q179_bootstrap_ci",
      // Poisson bootstrap (Chamandy et al. 2012): 32 resampling
      // replicas of the mean in ONE scan — per-row Poisson(1) weights
      // from a deterministic md5-ppm inverse CDF, replica means as 32
      // partial aggregates, CI = percentiles of the (rounded) means.
      // The uncertainty bar every pipeline metric should carry; B
      // passes collapse to one.
      (s, dir) => graft.operators.Bootstrap.meanCi(
        Tables.events(s, dir), "event_id", "value"),
      {
        val ladder = graft.operators.Bootstrap.PoissonCdf15.zipWithIndex
          .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
        val digest = "md5(event_id::VARCHAR || ':' || (r // 8)::VARCHAR)"
        s"""WITH reps AS (
           |  SELECT r, value,
           |    ((('0x' || CASE WHEN (r % 8) < 4
           |        THEN substr($digest, 1, 15)
           |        ELSE substr($digest, 17, 15) END)::UBIGINT
           |      >> ((r % 4) * 15)) % 32768)::BIGINT AS u
           |  FROM events, range(0, 32) t(r)),
           |wtd AS (SELECT r, CASE $ladder ELSE 7 END AS w, value
           |        FROM reps),
           |means AS (SELECT r, round(sum(w * value) / sum(w), 6) AS m
           |          FROM wtd GROUP BY r)
           |SELECT (SELECT count(*) FROM events)::BIGINT AS n,
           |  (SELECT round(avg(value), 6) FROM events) AS mean,
           |  round(quantile_cont(m, 0.025), 6) AS ci_lo,
           |  round(quantile_cont(m, 0.975), 6) AS ci_hi
           |FROM means""".stripMargin
      }),

    Q("q180_corpus_export",
      // The export flagship: quality gate (≥0.9) → exact dedup
      // (keep-min per content hash) → leakage-safe split (content-hash
      // groups) → GPT packing into 64-token sequences per (split,
      // shard) — ONE Catalyst tree from raw docs to shard manifest.
      // Every stage is an already-oracled operator; this row pins their
      // COMPOSITION (pruning and partial aggs flow through the whole
      // tree; the only windows are per-(split, shard)).
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"),
            TextAnalysis.qualityScore(col("text")).as("q"),
            md5(col("text")).as("h"))
          .filter(col("q") >= 0.9)
        val keep = docs.groupBy("h").agg(min(col("doc_id")).as("doc_id"))
        val kept = docs.join(keep, Seq("h", "doc_id"), "left_semi")
        val base = graft.pipeline.Sampling.groupSplit(kept, col("h"), 0.8)
          .select(col("doc_id"), col("split"),
            pmod(TextFunctions.md5Long(concat(lit("epoch0|"),
              col("doc_id").cast("string"))), lit(4L)).as("shard"),
            TextFunctions.tokenCount(col("text")).as("n_tokens"))
        base
          .groupBy("split", "shard")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            ceil(sum(col("n_tokens")).cast("double") / 64).cast("long")
              .as("n_seqs"),
            round(sum(col("n_tokens")).cast("double") /
              (ceil(sum(col("n_tokens")).cast("double") / 64) * 64), 6)
              .as("efficiency"))
          .orderBy("split", "shard")
      },
      s"""WITH scored AS (
         |  SELECT doc_id, text, $qualitySql AS q, md5(text) AS h
         |  FROM documents),
         |gated AS (SELECT * FROM scored WHERE q >= 0.9),
         |keep AS (SELECT h, min(doc_id) AS doc_id FROM gated GROUP BY h),
         |kept AS (SELECT g.* FROM gated g JOIN keep k
         |         ON g.h = k.h AND g.doc_id = k.doc_id),
         |base AS (
         |  SELECT doc_id,
         |    CASE WHEN ${md5LongSql("h")} % 1000000 < 800000
         |         THEN 'train' ELSE 'eval' END AS split,
         |    ${md5LongSql("'epoch0|' || doc_id::VARCHAR")} % 4 AS shard,
         |    len($toksSql)::BIGINT AS n_tokens
         |  FROM kept)
         |SELECT split, shard, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS total_tokens,
         |  ceil(sum(n_tokens)::DOUBLE / 64)::BIGINT AS n_seqs,
         |  round(sum(n_tokens)::DOUBLE /
         |    (ceil(sum(n_tokens)::DOUBLE / 64)::BIGINT * 64)::DOUBLE, 6)
         |    AS efficiency
         |FROM base GROUP BY split, shard
         |ORDER BY split, shard""".stripMargin),

    Q("q181_decayed_counts",
      // Exponentially time-decayed aggregates (half-life 1 day against
      // the corpus horizon): the freshness/trend weighting behind
      // recency-aware ranking and decayed counters. ONE scan + a
      // broadcast 1-row horizon; decay is a closed-form pow per row
      // (both engines IEEE pow), never a sequential state pass.
      (s, dir) => {
        val sec = unix_timestamp(date_trunc("second", col("ts")))
        val ev = Tables.events(s, dir).select(col("event_type"),
          sec.as("s"), col("value"))
        val hz = ev.agg(max("s").as("T"))
        ev.crossJoin(broadcast(hz))
          .withColumn("w", pow(lit(0.5),
            (col("T") - col("s")).cast("double") / 86400.0))
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            round(sum(col("w")), 6).as("decayed_n"),
            round(sum(col("w") * col("value")), 6).as("decayed_value"),
            round(sum(col("w")) / count(lit(1)), 6).as("freshness"))
          .orderBy("event_type")
      },
      """WITH ev AS (
        |  SELECT event_type, epoch(date_trunc('second', ts))::BIGINT AS s,
        |         value
        |  FROM events),
        |hz AS (SELECT max(s) AS T FROM ev)
        |SELECT event_type, count(*)::BIGINT AS n,
        |  round(sum(pow(0.5, (T - s)::DOUBLE / 86400.0)), 6) AS decayed_n,
        |  round(sum(pow(0.5, (T - s)::DOUBLE / 86400.0) * value), 6)
        |    AS decayed_value,
        |  round(sum(pow(0.5, (T - s)::DOUBLE / 86400.0)) / count(*), 6)
        |    AS freshness
        |FROM ev, hz GROUP BY event_type ORDER BY event_type""".stripMargin),

    Q("q182_data_contract",
      // Data-contract validation (the Great-Expectations gate in front
      // of every load): null checks, domain/range checks, composite-key
      // uniqueness, and referential integrity — each check one row of
      // (violations, total). Scalar checks share ONE conditional-agg
      // scan; uniqueness is a partial-agg group count; RI is an
      // anti-join on the key. At 100 TB nothing here is new I/O — the
      // contract piggybacks the load's own scan.
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val n = li.count()
        def cnt(violations: Column): Column =
          sum(when(violations, 1L).otherwise(0L))
        val scalarChecks = li.agg(
            cnt(col("l_quantity") < 1 || col("l_quantity") > 50).as("c1"),
            cnt(col("l_discount") < 0 || col("l_discount") > 0.1).as("c2"),
            cnt(!col("l_returnflag").isin("A", "N", "R")).as("c3"),
            cnt(col("l_shipdate").isNull).as("c4"))
          .select(expr("""stack(4,
              'c1_quantity_range', c1, 'c2_discount_range', c2,
              'c3_returnflag_domain', c3, 'c4_shipdate_notnull', c4)
            AS (check, violations)"""), lit(n).as("total"))
        val dupKeys = li.groupBy("l_orderkey", "l_linenumber").count()
          .filter(col("count") > 1)
          .agg(coalesce(sum(col("count")), lit(0L)).as("violations"))
          .select(lit("c5_key_unique").as("check"), col("violations"),
            lit(n).as("total"))
        val orphan = li.select("l_orderkey")
          .join(Tables.orders(s, dir).select(
            col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"),
            "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit("c6_orderkey_ri").as("check"), col("violations"),
            lit(n).as("total"))
        scalarChecks.unionByName(dupKeys).unionByName(orphan)
          .select(col("check"), col("violations"),
            col("total"), (col("violations") === 0).as("pass"))
          .orderBy("check")
      },
      """WITH n AS (SELECT count(*)::BIGINT AS total FROM lineitem),
        |checks AS (
        |  SELECT 'c1_quantity_range' AS check,
        |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |        THEN 1 ELSE 0 END)::BIGINT AS violations FROM lineitem
        |  UNION ALL
        |  SELECT 'c2_discount_range',
        |    sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
        |        THEN 1 ELSE 0 END)::BIGINT FROM lineitem
        |  UNION ALL
        |  SELECT 'c3_returnflag_domain',
        |    sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
        |        THEN 1 ELSE 0 END)::BIGINT FROM lineitem
        |  UNION ALL
        |  SELECT 'c4_shipdate_notnull',
        |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'c5_key_unique', coalesce(sum(c), 0)::BIGINT FROM (
        |    SELECT count(*) AS c FROM lineitem
        |    GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
        |  UNION ALL
        |  SELECT 'c6_orderkey_ri', count(*)::BIGINT FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_orderkey = l.l_orderkey))
        |SELECT c.check, c.violations, n.total,
        |  (c.violations = 0) AS pass
        |FROM checks c, n ORDER BY c.check""".stripMargin),

    Q("q183_source_overlap_matrix",
      // Cross-source duplication matrix — the provenance/licensing
      // audit: which sources share near-duplicate content with which
      // (scraped mirrors, syndication, laundered copies). LSH candidate
      // pairs joined to their sources, canonicalized (least, greatest),
      // counted per source pair. Pair generation stays in-group-bounded;
      // the matrix is |sources|² at most — metadata scale.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val src = docs.select(col("doc_id"), col("source"))
        Dedup.minhashCandidatePairs(docs, "doc_id", "text")
          .join(src.toDF("a", "src_a"), "a")
          .join(src.toDF("b", "src_b"), "b")
          .select(least(col("src_a"), col("src_b")).as("s1"),
            greatest(col("src_a"), col("src_b")).as("s2"))
          .groupBy("s1", "s2")
          .agg(count(lit(1)).cast("long").as("n_dup_pairs"))
          .orderBy(col("n_dup_pairs").desc, col("s1"), col("s2"))
      },
      s"""WITH ${minhashPairCtes()}
         |SELECT least(da.source, db.source) AS s1,
         |  greatest(da.source, db.source) AS s2,
         |  count(*)::BIGINT AS n_dup_pairs
         |FROM pairs p
         |JOIN documents da ON da.doc_id = p.a
         |JOIN documents db ON db.doc_id = p.b
         |GROUP BY 1, 2
         |ORDER BY n_dup_pairs DESC, s1, s2""".stripMargin),

    Q("q184_dedup_report",
      // The dedup audit every curation run publishes: cluster-size
      // histogram over the near-dup components (q60's labels) plus the
      // removable-doc count per size — "N docs in M clusters of size k;
      // removing all-but-one keeps R". Pure aggregation over the label
      // relation; the histogram is at most |distinct sizes| rows.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.nearDupClusters(docs, "doc_id",
            Dedup.minhashCandidatePairs(docs, "doc_id", "text"))
          .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
          .groupBy("sz")
          .agg(count(lit(1)).cast("long").as("n_clusters"),
            (count(lit(1)) * col("sz")).cast("long").as("n_docs"),
            (count(lit(1)) * (col("sz") - 1)).cast("long")
              .as("n_removable"))
          .select(col("sz").cast("long").as("cluster_size"),
            col("n_clusters"), col("n_docs"), col("n_removable"))
          .orderBy("cluster_size")
      },
      s"""WITH RECURSIVE ${minhashPairCtes()},
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |cc(node, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src),
         |lab AS (SELECT node, min(label) AS cluster_id
         |        FROM cc GROUP BY node),
         |sizes AS (SELECT cluster_id, count(*)::BIGINT AS sz
         |          FROM lab GROUP BY cluster_id)
         |SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters,
         |  (count(*) * sz)::BIGINT AS n_docs,
         |  (count(*) * (sz - 1))::BIGINT AS n_removable
         |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin),

    Q("q185_skew_diagnostics",
      // The pre-flight that decides q87's salting: per-join-key
      // frequency profile for the two hot fact keys — key count,
      // max/p99 frequency, top-10 share, and skew ratio (max/avg). One
      // partial-agg groupBy per key; everything after is a
      // |keys|-scale relation reduced to grid aggregates. A skew_ratio
      // near 1 ⇒ plain shuffle join; large ⇒ salt or AQE skew split.
      (s, dir) => {
        def profile(df: DataFrame, key: String,
            label: String): DataFrame = {
          val freq = df.groupBy(col(key).as("k"))
            .agg(count(lit(1)).as("f"))
          val top10 = freq.orderBy(col("f").desc, col("k")).limit(10)
            .agg(sum("f").as("top10"))
          freq.agg(count(lit(1)).cast("long").as("n_keys"),
              sum("f").as("n_rows"),
              max("f").as("max_freq"),
              round(expr("percentile(f, 0.99D)"), 6).as("p99_freq"))
            .crossJoin(broadcast(top10))
            .select(lit(label).as("key"), col("n_keys"),
              col("n_rows").cast("long").as("n_rows"),
              col("max_freq").cast("long").as("max_freq"),
              col("p99_freq"),
              round(col("top10").cast("double") /
                col("n_rows").cast("double"), 6).as("top10_share"),
              round(col("max_freq").cast("double") /
                (col("n_rows").cast("double") /
                  col("n_keys").cast("double")), 6).as("skew_ratio"))
        }
        profile(Tables.lineitem(s, dir), "l_orderkey", "lineitem.l_orderkey")
          .unionByName(profile(Tables.events(s, dir), "user_id",
            "events.user_id"))
          .orderBy("key")
      },
      """WITH f1 AS (SELECT l_orderkey AS k, count(*)::BIGINT AS f
        |            FROM lineitem GROUP BY 1),
        |f2 AS (SELECT user_id AS k, count(*)::BIGINT AS f
        |       FROM events GROUP BY 1),
        |p1 AS (
        |  SELECT 'lineitem.l_orderkey' AS key,
        |    count(*)::BIGINT AS n_keys, sum(f)::BIGINT AS n_rows,
        |    max(f)::BIGINT AS max_freq,
        |    round(quantile_cont(f, 0.99), 6) AS p99_freq,
        |    round((SELECT sum(f) FROM (SELECT f FROM f1
        |        ORDER BY f DESC, k LIMIT 10))::DOUBLE
        |      / sum(f)::DOUBLE, 6) AS top10_share,
        |    round(max(f)::DOUBLE /
        |      (sum(f)::DOUBLE / count(*)::DOUBLE), 6) AS skew_ratio
        |  FROM f1),
        |p2 AS (
        |  SELECT 'events.user_id' AS key,
        |    count(*)::BIGINT AS n_keys, sum(f)::BIGINT AS n_rows,
        |    max(f)::BIGINT AS max_freq,
        |    round(quantile_cont(f, 0.99), 6) AS p99_freq,
        |    round((SELECT sum(f) FROM (SELECT f FROM f2
        |        ORDER BY f DESC, k LIMIT 10))::DOUBLE
        |      / sum(f)::DOUBLE, 6) AS top10_share,
        |    round(max(f)::DOUBLE /
        |      (sum(f)::DOUBLE / count(*)::DOUBLE), 6) AS skew_ratio
        |  FROM f2)
        |SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |ORDER BY key""".stripMargin),

    Q("q186_ann_autotune",
      // The corpus-scaled ANN shortlist rule
      // ([[graft.index.PqIndex.scaledCandidates]]): a FIXED
      // numCandidates decays in recall as the index grows (the ADC
      // shortlist is a fraction-of-corpus filter), so the default now
      // derives from index metadata — max(k·10, ceil(n/4)). This row
      // pins the rule against the index's REAL count (indexedCount =
      // one parquet metadata read); the recall the rule delivers is
      // gated by RecallFloorSpec at two corpus sizes.
      (s, dir) => {
        import s.implicits._
        val idx = pqFor(s, dir)
        val n = graft.index.PqIndex.indexedCount(s, idx)
        Seq(10, 100)
          .map(k => (n, k, graft.index.PqIndex.scaledCandidates(n, k)))
          .toDF("n_vectors", "k", "num_candidates")
          .orderBy("k")
      },
      """WITH n AS (SELECT count(*)::BIGINT AS n_vectors FROM embeddings),
        |ks AS (SELECT unnest([10, 100]) AS k)
        |SELECT n_vectors, k,
        |  greatest(k::BIGINT * 10,
        |    ceil(n_vectors::DOUBLE / 4)::BIGINT)::INT AS num_candidates
        |FROM n CROSS JOIN ks ORDER BY k""".stripMargin),

    Q("q187_cluster_keep_policy",
      // The keep policy that completes the dedup chain: q60's clusters
      // + q15's quality score → one survivor per near-dup cluster (max
      // quality, ties to min id). Two partial-agg groupBys on the
      // cluster key + equi-joins back — no corpus window.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val clusters = Dedup.nearDupClusters(docs, "doc_id",
          Dedup.minhashCandidatePairs(docs, "doc_id", "text"))
        val scored = docs.select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        Dedup.keepBestPerCluster(scored, "doc_id", clusters, "quality")
          .select(col("doc_id"), col("cluster_id"), col("quality"),
            col("keep"))
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE ${minhashPairCtes()},
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |cc(node, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src),
         |lab AS (SELECT node AS doc_id, min(label)::BIGINT AS cluster_id
         |        FROM cc GROUP BY node),
         |js AS (SELECT s.doc_id, l.cluster_id, s.q
         |       FROM (SELECT doc_id, $qualitySql AS q FROM documents) s
         |       JOIN lab l USING (doc_id)),
         |mx AS (SELECT cluster_id, max(q) AS mq FROM js GROUP BY 1),
         |keepers AS (SELECT js.cluster_id, min(js.doc_id) AS keep_id
         |            FROM js JOIN mx ON js.cluster_id = mx.cluster_id
         |              AND js.q = mx.mq
         |            GROUP BY js.cluster_id)
         |SELECT js.doc_id, js.cluster_id, js.q AS quality,
         |  (js.doc_id = k.keep_id) AS keep
         |FROM js JOIN keepers k USING (cluster_id)
         |ORDER BY doc_id""".stripMargin),

    Q("q188_contamination_score",
      // Graded decontamination: the benchmark-overlap FRACTION per doc
      // (q62 is the any-hit flag). One scan, zero shuffles — the
      // benchmark shingle set rides as an array literal and the per-row
      // work is a hash-set intersect.
      (s, dir) => graft.pipeline.Decontaminate.contaminationScore(
        Tables.documents(s, dir), "doc_id", "text", BenchmarkPhrases)
        .orderBy("doc_id"),
      {
        val shingles = graft.pipeline.Decontaminate
          .phraseShingles(BenchmarkPhrases)
          .map(sh => s"'$sh'").mkString("[", ", ", "]")
        s"""SELECT doc_id, len(shl)::BIGINT AS n_shingles,
           |  len(list_intersect(shl, $shingles))::BIGINT AS n_hit,
           |  round(CASE WHEN len(shl) = 0 THEN 0.0
           |    ELSE len(list_intersect(shl, $shingles))::DOUBLE
           |         / len(shl)::DOUBLE END, 6) AS contamination
           |FROM (SELECT doc_id, list_distinct($shinglesSql) AS shl
           |      FROM (SELECT doc_id, $toksSql AS l FROM documents))
           |ORDER BY doc_id""".stripMargin
      }),

    Q("q189_lsh_planner",
      // Banding pre-flight for the dedup family (q185's diagnostic
      // discipline): detection probability 1-(1-s^r)^b over a Jaccard
      // grid plus the scheme threshold (1/b)^(1/r), for the registry's
      // own (numHashes=8, bandSize=2) knobs. Metadata-scale algebra, no
      // corpus access.
      (s, dir) => Dedup.lshPlanCurve(s).orderBy("jaccard_s"),
      {
        val b = Dedup.NumHashes / Dedup.BandSize
        val r = Dedup.BandSize
        s"""SELECT round(i::DOUBLE / 20, 6) AS jaccard_s,
           |  round(1.0 - pow(1.0 - pow(i::DOUBLE / 20, $r), $b), 6)
           |    AS p_detect,
           |  round(pow(1.0 / $b, 1.0 / $r), 6) AS s_threshold
           |FROM generate_series(1, 20) t(i)
           |ORDER BY jaccard_s""".stripMargin
      }),

    Q("q190_kanonymity_audit",
      // Release-gate privacy audit ([[graft.pipeline.Privacy]]):
      // k-anonymity group sizes + l-diversity of the sensitive band per
      // quasi-identifier combination — one partial-aggregated groupBy,
      // no windows, no self-joins (the homogeneity-attack check rides
      // the same scan as the size check).
      (s, dir) => graft.pipeline.Privacy.kAnonymityAudit(
        Tables.customer(s, dir).withColumn("balance_band",
          floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "c_mktsegment"), "balance_band", k = 10, l = 3)
        .orderBy("c_nationkey", "c_mktsegment"),
      """SELECT c_nationkey, c_mktsegment,
        |  count(*)::BIGINT AS n_rows,
        |  count(DISTINCT floor(c_acctbal / 1000)::BIGINT)::BIGINT
        |    AS n_sensitive,
        |  count(*) >= 10 AS k_anonymous,
        |  count(DISTINCT floor(c_acctbal / 1000)::BIGINT) >= 3 AS l_diverse
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),

    Q("q191_target_encoding",
      // Leakage-safe K-fold target encoding
      // ([[graft.pipeline.FeatureEncoding.kFoldTargetEncode]]): the
      // out-of-fold m-estimate mean per (category, fold) — one corpus
      // scan (groupBy cat×fold), then metadata algebra; DECIMAL sums so
      // both engines produce the identical exact means.
      (s, dir) => graft.pipeline.FeatureEncoding.kFoldTargetEncode(
        Tables.events(s, dir)
          .withColumn("fold", pmod(col("event_id"), lit(5))),
        "event_type", "value", "fold", smoothing = 10.0)
        .orderBy("event_type", "fold"),
      """WITH pf AS (
        |  SELECT event_type, (event_id % 5)::BIGINT AS fold,
        |    sum(CAST(value AS DECIMAL(18,4))) AS fold_sum,
        |    count(value)::BIGINT AS fold_cnt
        |  FROM events GROUP BY 1, 2),
        |pc AS (SELECT event_type, sum(fold_sum) AS cat_sum,
        |         sum(fold_cnt)::BIGINT AS cat_cnt FROM pf GROUP BY 1),
        |g AS (SELECT sum(CAST(value AS DECIMAL(18,4)))::DOUBLE
        |        / count(value) AS prior FROM events)
        |SELECT pf.event_type, pf.fold, pf.fold_cnt AS n_in_fold,
        |  round(((pc.cat_sum - pf.fold_sum)::DOUBLE + 10.0 * g.prior)
        |    / ((pc.cat_cnt - pf.fold_cnt)::DOUBLE + 10.0), 6) AS oof_mean
        |FROM pf JOIN pc USING (event_type) CROSS JOIN g
        |ORDER BY event_type, fold""".stripMargin),

    Q("q192_gap_fill",
      // Calendar densify + forward fill ([[graft.operators.GapFill]]):
      // per-entity daily grid with last-observation-carried-forward.
      // Every stage partitions by the ENTITY key (hash-agg day pick,
      // span-bounded sequence explode, per-key window) — millions of
      // independent partitions at scale, never a corpus window.
      (s, dir) => graft.operators.GapFill.forwardFillDaily(
        Tables.events(s, dir).filter(col("user_id") < 40),
        "user_id", "ts", "event_id", "value")
        .withColumnRenamed("k", "user_id")
        .select("user_id", "day", "v", "v_filled", "is_gap")
        .orderBy("user_id", "day"),
      """WITH daily AS (
        |  SELECT user_id AS k, day, v FROM (
        |    SELECT user_id, ts::DATE AS day, value AS v,
        |      row_number() OVER (PARTITION BY user_id, ts::DATE
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE user_id < 40)
        |  WHERE rn = 1),
        |grid AS (
        |  SELECT k, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
        |    AS day
        |  FROM (SELECT k, min(day) AS d0, max(day) AS d1
        |        FROM daily GROUP BY k)),
        |j AS (SELECT g.k, g.day, d.v
        |      FROM grid g LEFT JOIN daily d USING (k, day))
        |SELECT k AS user_id, day, v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
        |  v IS NULL AS is_gap
        |FROM j ORDER BY user_id, day""".stripMargin),

    Q("q193_sft_assembly",
      // SFT-dialogue assembly ([[graft.pipeline.Conversations]]): the
      // event log rendered as ordered `role: text` conversations — ONE
      // groupBy on the conversation key, ordering inside the group via
      // array_sort on a (ts, id) struct (bounded, human-sized groups);
      // output carries md5 fingerprints so the audit stays metadata-
      // sized.
      (s, dir) => graft.pipeline.Conversations.assembleFingerprints(
        Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type", "props")
        .withColumnRenamed("conv_id", "user_id")
        .select(col("user_id"), col("n_turns"),
          col("n_chars").cast("long").as("n_chars"), col("convo_md5"))
        .orderBy("user_id"),
      """WITH r AS (
        |  SELECT user_id, count(*)::BIGINT AS n_turns,
        |    string_agg(coalesce(event_type, '') || ': '
        |        || coalesce(props, ''), chr(10)
        |      ORDER BY ts, event_id) AS rendered
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_turns, length(rendered)::BIGINT AS n_chars,
        |  md5(rendered) AS convo_md5
        |FROM r ORDER BY user_id""".stripMargin),

    Q("q194_embedding_health",
      // Embedding-matrix health profile: per-label count, mean L2 norm,
      // and mean cosine to the GLOBAL centroid (the anisotropy /
      // collapsed-representation diagnostic — Ethayarajh 2019). The
      // centroid is the exact-decimal mean from
      // [[VectorFunctions.centroids]] (one posexplode + groupBy) and
      // rides a broadcast; per-row work is codegen'd array math; the
      // per-label rollup sums 6-dp-rounded DECIMALs so both engines
      // agree exactly.
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val cent = VectorFunctions.centroids(
          e.select(lit(1).as("g"), col("embedding")), "g", "embedding")
          .select(col("centroid"))
        e.crossJoin(broadcast(cent))
          .select(col("label"),
            round(VectorFunctions.l2Norm(col("embedding")), 6).as("nrm"),
            round(VectorFunctions.cosineHof(col("embedding"),
              col("centroid")), 6).as("cs"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_vectors"),
            round(sum(col("nrm").cast(DecimalType(18, 10))).cast("double")
              / count(lit(1)), 6).as("mean_norm"),
            round(sum(col("cs").cast(DecimalType(18, 10))).cast("double")
              / count(lit(1)), 6).as("mean_cos_centroid"))
          .orderBy("label")
      },
      """WITH ex AS (
        |  SELECT unnest(embedding::DOUBLE[]) AS v,
        |         unnest(range(1, len(embedding) + 1)) AS pos
        |  FROM embeddings),
        |comp AS (
        |  SELECT pos, round(sum(round(v, 6)::DECIMAL(18,10))::DOUBLE
        |    / count(*), 6) AS c
        |  FROM ex GROUP BY pos),
        |cent AS (SELECT list(c ORDER BY pos) AS centroid FROM comp),
        |per_row AS (
        |  SELECT label,
        |    round(sqrt(list_dot_product(embedding::DOUBLE[],
        |      embedding::DOUBLE[])), 6) AS nrm,
        |    round(CASE
        |      WHEN sqrt(list_dot_product(embedding::DOUBLE[],
        |             embedding::DOUBLE[])) = 0
        |        OR sqrt(list_dot_product(centroid, centroid)) = 0 THEN 0.0
        |      ELSE list_dot_product(embedding::DOUBLE[], centroid)
        |        / (sqrt(list_dot_product(embedding::DOUBLE[],
        |             embedding::DOUBLE[]))
        |           * sqrt(list_dot_product(centroid, centroid))) END, 6)
        |      AS cs
        |  FROM embeddings CROSS JOIN cent)
        |SELECT label, count(*)::BIGINT AS n_vectors,
        |  round(sum(nrm::DECIMAL(18,10))::DOUBLE / count(*), 6)
        |    AS mean_norm,
        |  round(sum(cs::DECIMAL(18,10))::DOUBLE / count(*), 6)
        |    AS mean_cos_centroid
        |FROM per_row GROUP BY label ORDER BY label""".stripMargin),

    Q("q195_weak_labels",
      // Snorkel-style weak supervision ([[graft.pipeline.WeakLabels]]):
      // five deterministic labeling functions vote per doc, per-LF
      // reliability is estimated from agreement with the unweighted
      // majority (one 1-row aggregate, broadcast back), and the final
      // label is the reliability-weighted re-vote — all row-local
      // codegen except that single stats aggregate.
      (s, dir) => graft.pipeline.WeakLabels.label(
        Tables.documents(s, dir), "doc_id", "text").orderBy("doc_id"),
      """WITH lf AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) >= 150 THEN 1
        |         WHEN length(text) < 30 THEN -1 ELSE 0 END AS lf_len,
        |    CASE WHEN length(text) = 0 THEN -1
        |         WHEN length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE
        |              / length(text) >= 0.6 THEN 1
        |         WHEN length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE
        |              / length(text) < 0.3 THEN -1 ELSE 0 END AS lf_alpha,
        |    CASE WHEN position('!!' IN text) > 0
        |           OR position('??' IN text) > 0 THEN -1 ELSE 0 END
        |      AS lf_shout,
        |    CASE WHEN length(text) = 0 THEN 0
        |         WHEN length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
        |              / length(text) > 0.3 THEN -1 ELSE 0 END AS lf_digit,
        |    CASE WHEN position(' the ' IN lower(text)) > 0
        |           OR position(' and ' IN lower(text)) > 0 THEN 1 ELSE 0 END
        |      AS lf_stop
        |  FROM documents),
        |mj AS (SELECT *, sign(lf_len + lf_alpha + lf_shout + lf_digit
        |         + lf_stop)::INT AS majority FROM lf),
        |st AS (SELECT
        |  sum(CASE WHEN lf_len != 0 AND majority != 0
        |        AND lf_len = majority THEN 1 ELSE 0 END)::BIGINT AS a1,
        |  sum(CASE WHEN lf_len != 0 AND majority != 0
        |        THEN 1 ELSE 0 END)::BIGINT AS t1,
        |  sum(CASE WHEN lf_alpha != 0 AND majority != 0
        |        AND lf_alpha = majority THEN 1 ELSE 0 END)::BIGINT AS a2,
        |  sum(CASE WHEN lf_alpha != 0 AND majority != 0
        |        THEN 1 ELSE 0 END)::BIGINT AS t2,
        |  sum(CASE WHEN lf_shout != 0 AND majority != 0
        |        AND lf_shout = majority THEN 1 ELSE 0 END)::BIGINT AS a3,
        |  sum(CASE WHEN lf_shout != 0 AND majority != 0
        |        THEN 1 ELSE 0 END)::BIGINT AS t3,
        |  sum(CASE WHEN lf_digit != 0 AND majority != 0
        |        AND lf_digit = majority THEN 1 ELSE 0 END)::BIGINT AS a4,
        |  sum(CASE WHEN lf_digit != 0 AND majority != 0
        |        THEN 1 ELSE 0 END)::BIGINT AS t4,
        |  sum(CASE WHEN lf_stop != 0 AND majority != 0
        |        AND lf_stop = majority THEN 1 ELSE 0 END)::BIGINT AS a5,
        |  sum(CASE WHEN lf_stop != 0 AND majority != 0
        |        THEN 1 ELSE 0 END)::BIGINT AS t5
        |  FROM mj),
        |sc AS (SELECT m.doc_id, m.lf_len, m.lf_alpha, m.lf_shout,
        |  m.lf_digit, m.lf_stop, m.majority,
        |  round((2.0 * a1 / greatest(t1, 1) - 1.0) * m.lf_len
        |      + (2.0 * a2 / greatest(t2, 1) - 1.0) * m.lf_alpha
        |      + (2.0 * a3 / greatest(t3, 1) - 1.0) * m.lf_shout
        |      + (2.0 * a4 / greatest(t4, 1) - 1.0) * m.lf_digit
        |      + (2.0 * a5 / greatest(t5, 1) - 1.0) * m.lf_stop, 6)
        |    AS score
        |  FROM mj m CROSS JOIN st)
        |SELECT doc_id, lf_len, lf_alpha, lf_shout, lf_digit, lf_stop,
        |  majority, score, sign(score)::INT AS label
        |FROM sc ORDER BY doc_id""".stripMargin),

    Q("q196_ngram_novelty",
      // Corpus-commonness complement of q188
      // ([[graft.text.TextAnalysis.ngramNovelty]]): fraction of a doc's
      // distinct 3-token shingles occurring in NO other document —
      // boilerplate that slips past pairwise near-dup thresholds.
      // Explode → shingle-df groupBy → hash-join back, the dedup
      // family's standard shuffle-by-shingle shape.
      (s, dir) => TextAnalysis.ngramNovelty(
        Tables.documents(s, dir), "doc_id", "text").orderBy("doc_id"),
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh
         |  FROM (SELECT doc_id, $toksSql AS l FROM documents)),
         |dfq AS (SELECT sh, count(*)::BIGINT AS df FROM sh GROUP BY sh),
         |per AS (SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
         |    sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique
         |  FROM sh s JOIN dfq d USING (sh) GROUP BY s.doc_id)
         |SELECT d.doc_id,
         |  coalesce(p.n_shingles, 0)::BIGINT AS n_shingles,
         |  coalesce(p.n_unique, 0)::BIGINT AS n_unique,
         |  round(CASE WHEN coalesce(p.n_shingles, 0) = 0 THEN 0.0
         |    ELSE p.n_unique::DOUBLE / p.n_shingles::DOUBLE END, 6)
         |    AS novelty
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    Q("q197_rolling_features",
      // Trailing 7-day feature windows
      // ([[graft.operators.RollingFeatures.trailingDaily]]): per-entity
      // RANGE frame over the per-(key, day) grid — the window runs on
      // the AGGREGATED grid partitioned by the entity key (never raw
      // events, never a low-cardinality partition), and day sums ride
      // DECIMAL so the rolling sums are engine-exact.
      (s, dir) => graft.operators.RollingFeatures.trailingDaily(
        Tables.events(s, dir).filter(col("user_id") < 40),
        "user_id", "ts", "value", windowDays = 7)
        .withColumnRenamed("k", "user_id")
        .orderBy("user_id", "day"),
      """WITH daily AS (
        |  SELECT user_id AS k, ts::DATE AS day,
        |    sum(CAST(value AS DECIMAL(18,4))) AS day_sum,
        |    count(value)::BIGINT AS day_n,
        |    datediff('day', DATE '1970-01-01', ts::DATE) AS day_num
        |  FROM events WHERE user_id < 40 GROUP BY 1, 2, 5)
        |SELECT k AS user_id, day,
        |  day_sum::DOUBLE AS day_sum, day_n,
        |  sum(day_sum) OVER w::DOUBLE AS roll_sum,
        |  sum(day_n) OVER w::BIGINT AS roll_n,
        |  round((sum(day_sum) OVER w)::DOUBLE / (sum(day_n) OVER w), 6)
        |    AS roll_avg
        |FROM daily
        |WINDOW w AS (PARTITION BY k ORDER BY day_num
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day""".stripMargin),

    Q("q198_matryoshka_knn",
      // Matryoshka two-stage retrieval
      // ([[graft.search.VectorSearch.matryoshkaTopK]]): prefix-dim
      // coarse shortlist (16 of 64 dims — 4× less float work, and with
      // the prefix as its own column, 4× less scan), exact full-dim
      // rerank. The oracle pins the WHOLE pipeline (same shortlist set
      // via round-6 + id tiebreak), so correctness does not depend on
      // the MRL recall assumption the knob spec measures.
      (s, dir) => VectorSearch.matryoshkaTopK(Tables.embeddings(s, dir),
        "vec_id", "embedding", QueryVec, 10, MrlPrefixDim, MrlShortlist),
      s"""WITH shortlist AS (
         |  SELECT vec_id, embedding,
         |    round(${cosSqlPrefix(MrlPrefixDim)}, 6) AS prefix_score
         |  FROM embeddings
         |  ORDER BY prefix_score DESC, vec_id LIMIT $MrlShortlist)
         |SELECT vec_id AS doc_id, round($cosSql, 6) AS vec_score
         |FROM shortlist ORDER BY vec_score DESC, doc_id
         |LIMIT 10""".stripMargin),

    Q("q199_ppjoin_pairs",
      // Exact set-similarity self-join via prefix filtering
      // ([[graft.operators.SetSimJoin]], PPJoin family): EXACTLY the
      // pairs with shingle-Jaccard ≥ τ, no LSH false negatives, no
      // hot-band caps — the inverted index holds only each set's
      // rarest-element prefix. The oracle is the NAIVE exact join:
      // algorithm differs, answer provably equal.
      (s, dir) => graft.operators.SetSimJoin.jaccardJoin(
        Tables.documents(s, dir), "doc_id", "text", PpJoinTau, 3)
        .orderBy("a", "b"),
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(sh) AS el
         |  FROM (SELECT doc_id, $shinglesSql AS sh
         |        FROM (SELECT doc_id, $toksSql AS l FROM documents))),
         |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
         |inter AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b, count(*)::DOUBLE AS i
         |  FROM toks l JOIN toks r ON l.el = r.el AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2)
         |SELECT a, b, round(i / (la.len + lb.len - i), 6) AS jaccard
         |FROM inter
         |JOIN lens la ON la.doc_id = inter.a
         |JOIN lens lb ON lb.doc_id = inter.b
         |WHERE i / (la.len + lb.len - i) >= ${dec(PpJoinTau)}
         |ORDER BY a, b""".stripMargin),

    Q("q200_epoch_mixture",
      // Fractional-epoch materialization
      // ([[graft.pipeline.Sampling.epochMixture]], the DoReMi/D4
      // mixture shape): each source's docs repeat ⌊e⌋ times plus one
      // md5-admitted fractional epoch — map-only explode, ppm-exact
      // admission, idempotent across runs/engines.
      (s, dir) => graft.pipeline.Sampling.epochMixture(
        Tables.documents(s, dir).select("doc_id", "source"), "doc_id",
        lit(0.5) + (regexp_replace(col("source"), "src", "")
          .cast("int") % 4).cast("double"))
        .orderBy("doc_id", "epoch"),
      s"""WITH e AS (
         |  SELECT doc_id, source,
         |    0.5::DOUBLE + (replace(source, 'src', '')::INT % 4) AS eps
         |  FROM documents)
         |SELECT doc_id, source, gs.epoch::INT AS epoch
         |FROM e, generate_series(1, 4) gs(epoch)
         |WHERE epoch <= floor(eps)
         |   OR (epoch = floor(eps)::BIGINT + 1
         |    AND ${md5LongSql("doc_id::VARCHAR || ':e' || epoch::VARCHAR")}
         |      % 1000000 < floor((eps - floor(eps)) * 1000000)::BIGINT)
         |ORDER BY doc_id, epoch""".stripMargin),

    Q("q201_embedding_covariance",
      // One-pass covariance matrix over the embedding corpus
      // ([[org.apache.spark.sql.graftext.CovMomentsAgg]] +
      // [[graft.operators.Pca.covarianceMatrix]]): a single partial-
      // aggregated scan ships one ~17 KB moment buffer per partition —
      // never the d²-fold posexplode-pairs blowup the oracle (which
      // pays it on 500 rows) uses. The d×d result is index metadata;
      // the PCA/eigen stage on top is driver work (PcaSpec).
      (s, dir) => graft.operators.Pca.covarianceMatrix(
        Tables.embeddings(s, dir), "embedding", EmbedDim)
        .orderBy("i", "j"),
      s"""WITH x AS (
         |  SELECT vec_id, gs.i AS i,
         |    CAST(round(round(embedding[gs.i]::DOUBLE, 6) * 1000000)
         |      AS BIGINT) AS k
         |  FROM embeddings, generate_series(1, $EmbedDim) gs(i)),
         |m AS (
         |  SELECT a.i AS ai, b.i AS bi, count(*)::HUGEINT AS n,
         |    sum(a.k::HUGEINT) AS ska, sum(b.k::HUGEINT) AS skb,
         |    sum(a.k::HUGEINT * b.k::HUGEINT) AS skk
         |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
         |  GROUP BY 1, 2),
         |mm AS (
         |  SELECT ai, bi, n * skk - ska * skb AS num,
         |    n * n * 1000000::HUGEINT AS den
         |  FROM m)
         |SELECT (ai - 1)::INT AS i, (bi - 1)::INT AS j,
         |  (CASE WHEN num < 0
         |    THEN -((2 * (-num) + den) // (2 * den))
         |    ELSE  ((2 *   num  + den) // (2 * den)) END)::DOUBLE
         |    / 1e6 AS cov
         |FROM mm ORDER BY i, j""".stripMargin),

    Q("q202_padding_waste",
      // Length-bucketed padding-waste profile
      // ([[graft.pipeline.Packing.paddingWaste]]): one scan, one
      // fixed-cardinality groupBy; bucket −1 is the naive pad-to-max
      // strategy, so the result quantifies what bucketing saves.
      (s, dir) => graft.pipeline.Packing.paddingWaste(
        Tables.documents(s, dir), "text", 16, 64),
      s"""WITH base AS (
         |  SELECT least(len($toksSql), 64)::BIGINT AS n_tok,
         |    greatest(least(
         |      ceil(least(len($toksSql), 64)::DOUBLE / 16)::BIGINT * 16,
         |      64), 16)::BIGINT AS bucket,
         |    (len($toksSql) > 64)::INT::BIGINT AS truncated
         |  FROM documents),
         |pb AS (
         |  SELECT bucket, count(*)::BIGINT AS n_docs,
         |    sum(n_tok)::BIGINT AS real_tokens,
         |    sum(truncated)::BIGINT AS n_truncated,
         |    (count(*) * bucket)::BIGINT AS padded_tokens
         |  FROM base GROUP BY 1),
         |pm AS (
         |  SELECT (-1)::BIGINT AS bucket, count(*)::BIGINT AS n_docs,
         |    sum(n_tok)::BIGINT AS real_tokens,
         |    sum(truncated)::BIGINT AS n_truncated,
         |    (count(*) * 64)::BIGINT AS padded_tokens
         |  FROM base)
         |SELECT bucket, n_docs, real_tokens, n_truncated, padded_tokens,
         |  (((padded_tokens - real_tokens) * 1000000 // padded_tokens)
         |    / 1000000.0) AS waste
         |FROM (SELECT * FROM pb UNION ALL SELECT * FROM pm)
         |ORDER BY bucket""".stripMargin),

    Q("q203_spell_correct",
      // Symmetric-delete spelling correction
      // ([[graft.search.SpellCorrect]], the SymSpell / ES term-suggester
      // shape): vocabulary-sized delete index, broadcast query probes,
      // exact Levenshtein ≤ 1 verification — no window, no vocabulary
      // shuffle.
      (s, dir) => graft.search.SpellCorrect.correct(
        Tables.documents(s, dir), "text", SpellQueries),
      s"""WITH vocab AS (
         |  SELECT tok AS term, count(*)::BIGINT AS freq
         |  FROM (SELECT unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1),
         |vd AS (
         |  SELECT term, freq, unnest(${deletesSql("term")}) AS del
         |  FROM vocab),
         |qd AS (
         |  SELECT query, unnest(${deletesSql("query")}) AS del
         |  FROM (SELECT unnest([${SpellQueries.map(q => s"'$q'")
            .mkString(",")}]) AS query)),
         |cand AS (
         |  SELECT DISTINCT q.query, v.term, v.freq
         |  FROM vd v JOIN qd q USING (del))
         |SELECT query, term, levenshtein(query, term)::INT AS dist, freq
         |FROM cand WHERE levenshtein(query, term) <= 1
         |ORDER BY query, dist, freq DESC, term""".stripMargin),

    Q("q204_kcenter_coreset",
      // Greedy k-center / farthest-point sampling
      // ([[graft.operators.Coreset.kCenter]]): k map+TakeOrdered(1)
      // passes, selected vectors ride as broadcast literals, round-6 +
      // id-tiebreak argmax makes the pick chain engine-exact.
      (s, dir) => graft.operators.Coreset.kCenter(
        Tables.embeddings(s, dir), "vec_id", "embedding", EmbedDim,
        KCenterK),
      kcenterSql(KCenterK)),

    Q("q205_silhouette",
      // Centroid silhouette per label
      // ([[graft.operators.ClusterEval.centroidSilhouette]]): the
      // O(n·labels) broadcast-literal form of the O(n²) silhouette —
      // exact-decimal centroids, codegen'd per-row distances, decimal
      // rollup.
      (s, dir) => graft.operators.ClusterEval.centroidSilhouette(
        Tables.embeddings(s, dir), "label", "embedding", EmbedDim),
      silhouetteSql),

    Q("q206_calibration",
      // Reliability diagram of the frozen q133 quality model against
      // the lang=en label (the en-stopword feature is predictive)
      // ([[graft.pipeline.QualityClassifier.calibration]]): one scan,
      // 10-bin groupBy, integer-ppm ratios (a positives/count ratio
      // can land exactly on a round-6 half-boundary).
      (s, dir) => graft.pipeline.QualityClassifier.calibration(
        Tables.documents(s, dir), "text", QcWeights, QcIntercept,
        col("lang") === "en"),
      CalibrationOracleSql),

    Q("q207_postings_compression",
      // VByte posting-compression profile over the blocked layout
      // ([[graft.index.Postings.stats]]): gaps computed per
      // (term, doc-id-range block) — bounded windows, never a hot
      // term's full list; the real encoder ([[graft.index.Postings]]
      // codec + VBytePostingsAgg) round-trips in PostingsSpec.
      (s, dir) => graft.index.Postings.stats(
        TextSearch.buildPostings(Tables.documents(s, dir), "doc_id",
          "text").select("term", "doc_id"), 20),
      {
        def bl(e: String) =
          s"CASE WHEN $e < 128 THEN 1 WHEN $e < 16384 THEN 2 " +
            s"WHEN $e < 2097152 THEN 3 WHEN $e < 268435456 THEN 4 " +
            s"WHEN $e < 34359738368 THEN 5 ELSE 9 END"
        s"""WITH p AS (
           |  SELECT DISTINCT doc_id, unnest($toksSql) AS term
           |  FROM documents),
           |b AS (SELECT term, doc_id, doc_id // 4096 AS block FROM p),
           |d AS (SELECT term, block, doc_id,
           |        lag(doc_id) OVER (PARTITION BY term, block
           |          ORDER BY doc_id) AS prev
           |      FROM b),
           |s AS (SELECT term, block,
           |        CASE WHEN prev IS NULL THEN ${bl("doc_id")}
           |             ELSE ${bl("(doc_id - prev)")} END AS blen
           |      FROM d)
           |SELECT term, count(*)::BIGINT AS n_postings,
           |  count(DISTINCT block)::BIGINT AS n_blocks,
           |  (count(*) * 8)::BIGINT AS raw_bytes,
           |  sum(blen)::BIGINT AS vbyte_bytes,
           |  ((sum(blen) * 1000000) // (count(*) * 8))::BIGINT
           |    AS ratio_ppm
           |FROM s GROUP BY term
           |ORDER BY n_postings DESC, term LIMIT 20""".stripMargin
      }),

    Q("q208_grouped_kfold",
      // Group-aware k-fold CV assignment
      // ([[graft.pipeline.Sampling.groupFolds]]): the fold unit is the
      // near-dup cluster (q60's components), so no fold evaluates on a
      // near-duplicate of another fold's training rows — q171's
      // train/eval guard generalized to cross-validation.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val clusters = Dedup.nearDupClusters(docs, "doc_id",
          Dedup.minhashCandidatePairs(docs, "doc_id", "text"))
        graft.pipeline.Sampling.groupFolds(
            docs.join(clusters, "doc_id"), col("cluster_id"), 5)
          .groupBy("fold")
          .agg(countDistinct("cluster_id").cast("long").as("n_clusters"),
            count(lit(1)).cast("long").as("n_docs"),
            sum(TextFunctions.tokenCount(col("text"))).as("n_tokens"))
          .orderBy("fold")
      },
      s"""WITH RECURSIVE ${minhashPairCtes()},
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |cc(node, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.node = e.src),
         |lab AS (SELECT node AS doc_id, min(label) AS cluster_id
         |        FROM cc GROUP BY node)
         |SELECT (${md5LongSql("cluster_id::VARCHAR")} % 5)::INT AS fold,
         |  count(DISTINCT cluster_id)::BIGINT AS n_clusters,
         |  count(*)::BIGINT AS n_docs,
         |  sum(len($toksSql))::BIGINT AS n_tokens
         |FROM documents JOIN lab USING (doc_id)
         |GROUP BY fold ORDER BY fold""".stripMargin),

    Q("q209_embargo_split",
      // Purged temporal split with embargo
      // ([[graft.pipeline.Sampling.embargoSplit]]): rows inside the
      // gap after the train boundary are quarantined so boundary-
      // straddling rolling features can't leak; cut points are exact
      // integer-microsecond arithmetic on broadcast corpus bounds.
      (s, dir) => graft.pipeline.Sampling.embargoSplit(
          Tables.events(s, dir), "ts", 70, 5)
        .groupBy("split")
        .agg(count(lit(1)).cast("long").as("n_events"),
          countDistinct(col("user_id")).cast("long").as("n_users"))
        .orderBy("split"),
      """WITH b AS (SELECT min(epoch_us(ts)) AS tmin,
        |            max(epoch_us(ts)) AS tmax FROM events),
        |s AS (SELECT user_id,
        |  CASE WHEN epoch_us(ts) < tmin + ((tmax - tmin) * 70) // 100
        |         THEN 'train'
        |       WHEN epoch_us(ts) < tmin + ((tmax - tmin) * 75) // 100
        |         THEN 'embargo'
        |       ELSE 'test' END AS split
        |  FROM events, b)
        |SELECT split, count(*)::BIGINT AS n_events,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),

    Q("q210_dp_counts",
      // Laplace-mechanism noisy count release
      // ([[graft.pipeline.Privacy.dpNoisyCounts]]): count + Lap(1/ε)
      // per group, noise from an md5-seeded inverse-CDF draw (stated
      // caveat in the scaladoc: seeded = replayable pipeline testing,
      // production swaps in a secure RNG).
      (s, dir) => graft.pipeline.Privacy.dpNoisyCounts(
        Tables.documents(s, dir), "lang", 1.0).orderBy("lang"),
      s"""WITH g AS (SELECT lang, count(*) AS n FROM documents
         |           GROUP BY 1),
         |u AS (SELECT lang, n,
         |  ((${md5LongSql("lang || ':dp0'")} % 1000000)::DOUBLE + 0.5)
         |    / 1000000.0 AS u
         |  FROM g)
         |SELECT lang,
         |  round(n + (-(1.0) * sign(u - 0.5)
         |    * ln(1.0 - 2.0 * abs(u - 0.5))), 6) AS noisy_count
         |FROM u ORDER BY lang""".stripMargin),

    Q("q211_ohlc_bars",
      // Hourly OHLC bars per event type ([[graft.operators.Bars]]):
      // open/close are min/max over (ts, id, value) STRUCTS — the k=1
      // k-bounded aggregate, algebraic with map-side combine, id-
      // tiebroken; the oracle pays the row_number window the engine
      // never does. DECIMAL money math on both sides.
      (s, dir) => graft.operators.Bars.ohlc(
          Tables.events(s, dir).filter(col("event_type").isin("click",
            "purchase")),
          "event_type", "ts", "event_id", "value", 3600000000L)
        .orderBy("event_type", "bar"),
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bar,
        |    ts, event_id, CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |o AS (SELECT event_type, bar, v AS open FROM e
        |      QUALIFY row_number() OVER (PARTITION BY event_type, bar
        |        ORDER BY ts, event_id) = 1),
        |c AS (SELECT event_type, bar, v AS close FROM e
        |      QUALIFY row_number() OVER (PARTITION BY event_type, bar
        |        ORDER BY ts DESC, event_id DESC) = 1),
        |a AS (SELECT event_type, bar,
        |        max(v) AS high, min(v) AS low,
        |        count(*)::BIGINT AS n_events, sum(v) AS volume
        |      FROM e GROUP BY 1, 2)
        |SELECT a.event_type, a.bar,
        |  o.open::DOUBLE AS open, a.high::DOUBLE AS high,
        |  a.low::DOUBLE AS low, c.close::DOUBLE AS close,
        |  a.n_events, a.volume::DOUBLE AS volume
        |FROM a JOIN o USING (event_type, bar)
        |JOIN c USING (event_type, bar)
        |ORDER BY event_type, bar""".stripMargin),

    Q("q212_matrix_stats",
      // ES matrix_stats parity ([[graft.operators.MatrixStats]]):
      // pairwise covariance + correlation over the lineitem money
      // columns from ONE moment-aggregation scan (k + k(k+1)/2 plain
      // sums, all DECIMAL-exact); the pair matrix is rebuilt from the
      // single moments row — never a per-pair scan.
      (s, dir) => graft.operators.MatrixStats.correlationMatrix(
        Tables.lineitem(s, dir),
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")),
      {
        val cs = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        val prs = for { i <- cs.indices; j <- i until cs.length }
          yield (cs(i), cs(j))
        val moments =
          (Seq("count(*)::DOUBLE AS n") ++
            cs.map(c =>
              s"(sum(CAST($c AS DECIMAL(18,4)))::VARCHAR)::DOUBLE AS s_$c") ++
            prs.map { case (a, b) =>
              // DECIMAL(19,4) operands force DuckDB's int128 multiply
              // path (width ≤ 18 runs in int64 and overflows on
              // price²); the VALUES are identical 2-dp money either
              // way, so the sums stay exact
              s"(sum((CAST($a AS DECIMAL(19,4)) * CAST($b AS " +
                s"DECIMAL(19,4)))::DECIMAL(38,8))::VARCHAR)::DOUBLE AS s_${a}_$b"
            }).mkString(",\n    ")
        val rows = prs.map { case (a, b) =>
          val cov = s"s_${a}_$b / n - (s_$a / n) * (s_$b / n)"
          def va(c: String) = s"(s_${c}_$c / n - (s_$c / n) * (s_$c / n))"
          s"SELECT '$a' AS a, '$b' AS b, round($cov, 6) AS cov, " +
            s"round(($cov) / sqrt(${va(a)} * ${va(b)}), 6) AS corr FROM m"
        }.mkString("\nUNION ALL ")
        s"WITH m AS (SELECT\n    $moments\n  FROM lineitem)\n" +
          s"$rows\nORDER BY a, b"
      }),

    Q("q213_tokenizer_fertility",
      // Per-language tokenizer fertility / compression
      // ([[graft.text.TextAnalysis.tokenizerFertility]]): the
      // multilingual budget report — subword tokens per word and chars
      // per subword, integer-ppm exact, one scan.
      (s, dir) => TextAnalysis.tokenizerFertility(
        Tables.documents(s, dir), "text", "lang"),
      s"""WITH base AS (
         |  SELECT lang, length(text)::BIGINT AS n_chars,
         |    len(list_filter(string_split_regex(text, '\\s+'),
         |      x -> x <> ''))::BIGINT AS n_words,
         |    (len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
         |       x -> x <> ''))
         |     + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')))
         |      ::BIGINT AS n_subwords
         |  FROM documents)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS n_chars,
         |  sum(n_words)::BIGINT AS n_words,
         |  sum(n_subwords)::BIGINT AS n_subwords,
         |  (((sum(n_subwords) * 1000000) // sum(n_words))::DOUBLE
         |    / 1000000.0) AS fertility,
         |  (((sum(n_chars) * 1000000) // sum(n_subwords))::DOUBLE
         |    / 1000000.0) AS chars_per_token
         |FROM base GROUP BY lang ORDER BY lang""".stripMargin),

    Q("q214_zorder_scan",
      // OPTIMIZE ZORDER ([[graft.table.DataLayout.zorderWrite]]): the
      // fact table is rewritten Morton-clustered on (l_orderkey,
      // l_partkey), so a selective predicate on EITHER column prunes
      // whole files by parquet zone map. The query runs the range scan
      // AGAINST THE Z-ORDERED COPY; the oracle runs it on the plain
      // table — layout must never change results. DataLayoutSpec pins
      // the actual file-pruning behavior; this row pins content
      // preservation through the rewrite.
      (s, dir) => {
        val zdir = java.nio.file.Files
          .createTempDirectory("graft_zorder_").toString
        graft.table.DataLayout.zorderWrite(
          Tables.lineitem(s, dir).select("l_orderkey", "l_partkey",
            "l_quantity", "l_extendedprice"),
          zdir, "l_orderkey", "l_partkey", nFiles = 16)
        s.read.parquet(zdir)
          .filter(col("l_orderkey") < 600 && col("l_partkey") < 400)
          .groupBy("l_partkey")
          .agg(count(lit(1)).as("n"),
            sum(d184(col("l_quantity"))).cast("double").as("qty"))
          .orderBy("l_partkey")
      },
      """SELECT l_partkey, count(*)::BIGINT AS n,
        |  sum(CAST(l_quantity AS DECIMAL(18,4)))::DOUBLE AS qty
        |FROM lineitem
        |WHERE l_orderkey < 600 AND l_partkey < 400
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin),

    Q("q215_global_ranks",
      // Distributed global row-number ([[graft.operators.Ranks
      // .globalRowNumber]]): the bucketed-prefix-sum ranking — a plain
      // `row_number() OVER (ORDER BY v)` (what the oracle runs)
      // serializes the relation onto ONE task; the engine ranks within
      // value-monotone buckets (≈ N/1024 rows per task) and offsets by
      // broadcast bucket prefixes. Same output, no corpus-wide window.
      (s, dir) => graft.operators.Ranks.globalRowNumber(
          Tables.events(s, dir).filter(col("user_id") < 20)
            .select("event_id", "value"),
          "value", "event_id")
        .orderBy("rank"),
      """SELECT event_id, value,
        |  row_number() OVER (ORDER BY value, event_id) AS rank
        |FROM events WHERE user_id < 20
        |ORDER BY rank""".stripMargin),

    Q("q216_mann_whitney",
      // Tie-corrected Mann–Whitney U ([[graft.operators.Ranks
      // .mannWhitney]]): rank statistics from VALUE-LEVEL aggregates +
      // the bucketed prefix for counts-below — one corpus scan, no
      // global sort; average tie ranks are exact binary halves, so the
      // sums are association-free on both engines.
      (s, dir) => graft.operators.Ranks.mannWhitney(
        Tables.events(s, dir), "value", "event_type",
        "click", "purchase"),
      """WITH two AS (
        |  SELECT value::DOUBLE AS v,
        |    (event_type = 'click') AS isa
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |rn AS (SELECT v, isa,
        |         row_number() OVER (ORDER BY v) AS r FROM two),
        |ranked AS (SELECT v, isa,
        |             avg(r) OVER (PARTITION BY v) AS avg_rank FROM rn),
        |ties AS (SELECT sum(n_v * n_v * n_v - n_v)::DOUBLE AS tie3
        |         FROM (SELECT count(*)::DOUBLE AS n_v
        |               FROM two GROUP BY v)),
        |g AS (SELECT
        |    sum(CASE WHEN isa THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN isa THEN 0 ELSE 1 END)::BIGINT AS n_b,
        |    sum(CASE WHEN isa THEN avg_rank ELSE 0.0 END) AS r_a
        |  FROM ranked),
        |u AS (SELECT n_a, n_b,
        |    r_a - n_a::DOUBLE * (n_a::DOUBLE + 1.0) / 2.0 AS u_a, tie3
        |  FROM g, ties)
        |SELECT n_a, n_b, round(u_a, 6) AS u_a,
        |  round((u_a - n_a::DOUBLE * n_b::DOUBLE / 2.0)
        |    / sqrt(n_a::DOUBLE * n_b::DOUBLE / 12.0
        |      * ((n_a::DOUBLE + n_b::DOUBLE + 1.0)
        |        - tie3 / ((n_a::DOUBLE + n_b::DOUBLE)
        |          * (n_a::DOUBLE + n_b::DOUBLE - 1.0)))), 6) AS z
        |FROM u""".stripMargin),

    Q("q217_spearman",
      // Tie-aware Spearman rank correlation
      // ([[graft.operators.Ranks.spearman]]): Pearson over VALUE-LEVEL
      // average ranks (distinct values + bucketed prefix — the oracle
      // pays the global row_number window, the engine never does);
      // rank sums are exact binary halves/quarters, so the moment
      // aggregation is association-free.
      (s, dir) => graft.operators.Ranks.spearman(
        Tables.lineitem(s, dir), "l_quantity", "l_extendedprice"),
      """WITH src AS (SELECT l_quantity::DOUBLE AS v1,
        |    l_extendedprice::DOUBLE AS v2 FROM lineitem),
        |rn AS (SELECT v1, v2,
        |    row_number() OVER (ORDER BY v1) AS rn1,
        |    row_number() OVER (ORDER BY v2) AS rn2 FROM src),
        |r AS (SELECT v1, v2,
        |    avg(rn1) OVER (PARTITION BY v1) AS ra,
        |    avg(rn2) OVER (PARTITION BY v2) AS rb FROM rn)
        |SELECT count(*)::BIGINT AS n,
        |  round((sum(ra * rb) / count(*)
        |      - (sum(ra) / count(*)) * (sum(rb) / count(*)))
        |    / sqrt((sum(ra * ra) / count(*)
        |        - (sum(ra) / count(*)) * (sum(ra) / count(*)))
        |      * (sum(rb * rb) / count(*)
        |        - (sum(rb) / count(*)) * (sum(rb) / count(*)))), 6)
        |    AS spearman
        |FROM r""".stripMargin),

    Q("q218_label_kappa",
      // Cohen's κ between two weak labelers
      // ([[graft.pipeline.WeakLabels.kappa]]): chance-discounted
      // agreement from ONE confusion-table aggregation (metadata-sized
      // |labels|² table, margins re-aggregated from it); rates are
      // integer-ppm exact.
      (s, dir) => {
        val lfs = graft.pipeline.WeakLabels.defaultLfs(col("text"))
          .toMap
        graft.pipeline.WeakLabels.kappa(
          Tables.documents(s, dir),
          lfs("lf_len").cast("int"), lfs("lf_stop").cast("int"))
      },
      """WITH lf AS (
        |  SELECT
        |    CASE WHEN length(text) >= 150 THEN 1
        |         WHEN length(text) < 30 THEN -1 ELSE 0 END AS la,
        |    CASE WHEN position(' the ' IN lower(text)) > 0
        |           OR position(' and ' IN lower(text)) > 0 THEN 1
        |         ELSE 0 END AS lb
        |  FROM documents),
        |conf AS (SELECT la, lb, count(*)::BIGINT AS c
        |         FROM lf GROUP BY 1, 2),
        |nn AS (SELECT sum(c)::BIGINT AS n FROM conf),
        |ag AS (SELECT coalesce(sum(c), 0)::BIGINT AS agree
        |       FROM conf WHERE la = lb),
        |rm AS (SELECT la, sum(c)::BIGINT AS ra FROM conf GROUP BY 1),
        |cm AS (SELECT lb, sum(c)::BIGINT AS rb FROM conf GROUP BY 1),
        |ch AS (SELECT coalesce(sum(ra * rb), 0)::BIGINT AS crossm
        |       FROM rm JOIN cm ON la = lb),
        |p AS (SELECT n,
        |    ((agree * 1000000) // n)::DOUBLE / 1000000.0 AS p_o,
        |    ((crossm * 1000000) // (n * n))::DOUBLE / 1000000.0 AS p_e
        |  FROM ag, nn, ch)
        |SELECT n, p_o, p_e,
        |  round((p_o - p_e) / (1.0 - p_e), 6) AS kappa
        |FROM p""".stripMargin),

    Q("q219_terms_others",
      // ES terms aggregation WITH the `sum_other_doc_count` bucket —
      // the part of the terms response q65 omitted: top-k buckets via
      // TakeOrderedAndProject plus ONE `__other__` row (total minus
      // top, two 1-row aggregates) so consumers can see what the top-k
      // cut hides. No window; the high-cardinality groupBy partial-
      // aggregates map-side.
      (s, dir) => {
        val counts = Tables.lineitem(s, dir)
          .groupBy(col("l_partkey").cast("string").as("term"))
          .agg(count(lit(1)).as("doc_count"))
        val top = counts
          .orderBy(col("doc_count").desc, col("term").asc).limit(10)
        val total = Tables.lineitem(s, dir)
          .agg(count(lit(1)).as("__total"))
        val topSum = top
          .agg(coalesce(sum("doc_count"), lit(0L)).as("__top"))
        val others = total.crossJoin(topSum)
          .select(lit("__other__").as("term"),
            (col("__total") - col("__top")).as("doc_count"))
        top.unionAll(others)
          .orderBy(col("doc_count").desc, col("term"))
      },
      """WITH c AS (SELECT l_partkey::VARCHAR AS term,
        |    count(*)::BIGINT AS doc_count FROM lineitem GROUP BY 1),
        |top AS (SELECT term, doc_count FROM c
        |        QUALIFY row_number() OVER (ORDER BY doc_count DESC,
        |          term) <= 10),
        |o AS (SELECT '__other__' AS term,
        |    ((SELECT count(*) FROM lineitem)
        |      - (SELECT sum(doc_count) FROM top))::BIGINT AS doc_count)
        |SELECT term, doc_count
        |FROM (SELECT * FROM top UNION ALL SELECT * FROM o)
        |ORDER BY doc_count DESC, term""".stripMargin),

    // ==== round-7b: closed-form models & rank statistics ================

    Q("q220_ols_regression",
      // Distributed OLS without a gradient loop: price ~ 1 + quantity +
      // discount. ONE partial-agg scan collects the 10 normal-equation
      // moments in exact DECIMAL (2-dp inputs ⇒ no FP association
      // drift); the Cramer 3×3 solve is a single expression over the
      // 1-row moment frame, mirrored verbatim in the oracle so both
      // engines run identical float ops on identical doubles.
      (s, dir) => graft.operators.Regression.ols2(
        Tables.lineitem(s, dir),
        "l_extendedprice", "l_quantity", "l_discount"),
      """WITH m AS (SELECT count(*)::DOUBLE AS n,
        |    sum(l_quantity::DECIMAL(19,4))::DOUBLE AS s1,
        |    sum(l_discount::DECIMAL(19,4))::DOUBLE AS s2,
        |    sum(l_quantity::DECIMAL(19,4) * l_quantity::DECIMAL(19,4))::DOUBLE AS s11,
        |    sum(l_quantity::DECIMAL(19,4) * l_discount::DECIMAL(19,4))::DOUBLE AS s12,
        |    sum(l_discount::DECIMAL(19,4) * l_discount::DECIMAL(19,4))::DOUBLE AS s22,
        |    sum(l_extendedprice::DECIMAL(19,4))::DOUBLE AS sy,
        |    sum(l_quantity::DECIMAL(19,4) * l_extendedprice::DECIMAL(19,4))::DOUBLE AS s1y,
        |    sum(l_discount::DECIMAL(19,4) * l_extendedprice::DECIMAL(19,4))::DOUBLE AS s2y,
        |    sum(l_extendedprice::DECIMAL(19,4) * l_extendedprice::DECIMAL(19,4))::DOUBLE AS syy
        |  FROM lineitem),
        |d AS (SELECT *,
        |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2) AS det,
        |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
        |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s2y - s1y * s2) AS det1,
        |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |      + sy * (s1 * s12 - s11 * s2) AS det2
        |  FROM m)
        |SELECT n::BIGINT AS n,
        |  round(det0 / det, 6) AS b0,
        |  round(det1 / det, 6) AS b1,
        |  round(det2 / det, 6) AS b2,
        |  round(1.0 - (syy - (det0 / det) * sy - (det1 / det) * s1y
        |               - (det2 / det) * s2y)
        |            / (syy - sy * sy / n), 6) AS r2
        |FROM d""".stripMargin),

    Q("q221_ks_test",
      // Two-sample Kolmogorov-Smirnov D between purchase and click
      // value distributions. ECDFs step only at distinct values, so the
      // sup lives on the value-level grid: bucketed-prefix cumulatives
      // (no corpus-wide window on the engine side), and the comparison
      // |cumA*n_b - cumB*n_a| is exact LONG math — D is engine-exact up
      // to one final rounded division. The oracle pays the plain global
      // window the engine avoids.
      (s, dir) => graft.operators.Ranks.ksTest(
        Tables.events(s, dir), "value", "event_type",
        "purchase", "click"),
      """WITH pv AS (SELECT value AS v,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS na_v,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS nb_v
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY value),
        |c AS (SELECT v,
        |    sum(na_v) OVER (ORDER BY v) AS cumA,
        |    sum(nb_v) OVER (ORDER BY v) AS cumB
        |  FROM pv),
        |t AS (SELECT sum(na_v) AS n_a, sum(nb_v) AS n_b FROM pv),
        |m AS (SELECT max(abs(c.cumA * t.n_b - c.cumB * t.n_a)) AS num
        |      FROM c, t)
        |SELECT t.n_a::BIGINT AS n_a, t.n_b::BIGINT AS n_b,
        |  round(m.num::DOUBLE / (t.n_a::DOUBLE * t.n_b::DOUBLE), 6) AS d
        |FROM t, m""".stripMargin),

    Q("q222_roc_auc",
      // Exact tie-corrected ROC-AUC: does document length separate
      // English from the rest? AUC = (R+ - n+(n+1)/2)/(n+ n-) with
      // average-rank ties — rank math entirely on the value-level grid
      // (bucketed prefix, no global sort); average ranks are exact
      // binary halves so the rank sum is association-free.
      (s, dir) => graft.operators.Ranks.auc(
        Tables.documents(s, dir), "n_chars", col("lang") === "en"),
      """WITH pv AS (SELECT n_chars::DOUBLE AS v,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS na_v,
        |    count(*)::BIGINT AS n_v
        |  FROM documents GROUP BY 1),
        |r AS (SELECT v, na_v, n_v,
        |    coalesce(sum(n_v) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM pv),
        |a AS (SELECT sum(na_v)::BIGINT AS n_pos,
        |    sum(n_v - na_v)::BIGINT AS n_neg,
        |    sum(na_v::DOUBLE * (below::DOUBLE
        |      + (n_v::DOUBLE + 1.0) / 2.0)) AS rp
        |  FROM r)
        |SELECT n_pos, n_neg,
        |  round((rp - n_pos::DOUBLE * (n_pos::DOUBLE + 1.0) / 2.0)
        |        / (n_pos::DOUBLE * n_neg::DOUBLE), 6) AS auc
        |FROM a""".stripMargin),

    Q("q223_group_quantiles",
      // Exact per-group percentile_disc WITHOUT a sort-based percentile
      // aggregate: (group, value, count) grid → per-group bucketed-
      // prefix cumulatives → the unique grid row with
      // below < ceil(p*n) <= below + count. The selection math is all
      // LONG-exact; q49's sort-based percentile() keeps the semantics
      // pinned, this is its 100 TB-safe execution shape.
      (s, dir) => graft.operators.Ranks.quantileDisc(
        Tables.events(s, dir), "event_type", "value",
        Seq(0.25, 0.5, 0.75)).orderBy("event_type", "p"),
      """SELECT event_type, p, value FROM (
        |  SELECT event_type, 0.25::DOUBLE AS p,
        |    quantile_disc(value, 0.25) AS value FROM events GROUP BY 1
        |  UNION ALL
        |  SELECT event_type, 0.5::DOUBLE AS p,
        |    quantile_disc(value, 0.5) AS value FROM events GROUP BY 1
        |  UNION ALL
        |  SELECT event_type, 0.75::DOUBLE AS p,
        |    quantile_disc(value, 0.75) AS value FROM events GROUP BY 1)
        |ORDER BY event_type, p""".stripMargin),

    Q("q224_revenue_gini",
      // Gini coefficient of per-customer revenue — inequality audit via
      // the sorted-sum identity G = 2*sum(r*x)/(n*sum(x)) - (n+1)/n,
      // with ranks from the bucketed global row-number (q215's shape):
      // no single-task global sort, and sum(rank*x) accumulates in
      // DECIMAL so the heavy sums are engine-exact. The oracle pays the
      // row_number window.
      (s, dir) => graft.operators.Ranks.gini(
        Tables.orders(s, dir)
          .groupBy(col("o_custkey").as("id"))
          .agg(sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("x")),
        "x", "id"),
      """WITH x AS (SELECT o_custkey AS id,
        |    sum(o_totalprice::DECIMAL(18,4))::DECIMAL(18,4) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, id) AS rnk FROM x),
        |a AS (SELECT count(*)::DOUBLE AS n, sum(x)::DOUBLE AS sx,
        |    sum(rnk::DECIMAL(18,0) * x)::DOUBLE AS srx
        |  FROM r)
        |SELECT n::BIGINT AS n,
        |  round(2.0 * srx / (n * sx) - (n + 1.0) / n, 6) AS gini
        |FROM a""".stripMargin),

    Q("q225_markov_transitions",
      // First-order Markov transition matrix over per-user event
      // sequences: the ONLY window partitions by user (high
      // cardinality — each task sorts one user's short sequence), the
      // (from, to) matrix is state²-sized, and probabilities are
      // integer ppm so no float division enters the aggregate.
      (s, dir) => graft.operators.Markov.transitions(
        Tables.events(s, dir), "user_id", "ts", "event_id", "event_type")
        .orderBy("from_state", "to_state"),
      """WITH p AS (SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_state
        |  FROM events),
        |c AS (SELECT from_state, to_state, count(*)::BIGINT AS n
        |      FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_state, sum(n)::BIGINT AS tot FROM c GROUP BY 1)
        |SELECT c.from_state, c.to_state, c.n,
        |  (c.n * 1000000) // t.tot AS p_ppm
        |FROM c JOIN t USING (from_state)
        |ORDER BY from_state, to_state""".stripMargin),

    Q("q226_benford_audit",
      // Benford first-digit forensic screen on order totals: leading
      // digit via the DECIMAL string form (log10-free — floor(log10)
      // misclassifies exact powers of ten), observed rates integer ppm,
      // expected rates pre-computed ppm literals shared with the oracle.
      (s, dir) => graft.operators.DigitAudit.benford(
        Tables.orders(s, dir), "o_totalprice").orderBy("digit"),
      {
        val vals = graft.operators.DigitAudit.BenfordPpm
          .map { case (d, p) => s"($d, $p)" }.mkString(", ")
        s"""WITH d AS (SELECT
           |    substr((o_totalprice::DECIMAL(18,4))::VARCHAR, 1, 1)::INT
           |      AS digit
           |  FROM orders WHERE o_totalprice >= 1),
           |c AS (SELECT digit, count(*)::BIGINT AS n_obs
           |      FROM d GROUP BY 1),
           |t AS (SELECT sum(n_obs)::BIGINT AS n FROM c),
           |e AS (SELECT v.digit::INT AS digit, v.exp_ppm::BIGINT AS exp_ppm
           |      FROM (VALUES $vals) AS v(digit, exp_ppm))
           |SELECT c.digit, c.n_obs,
           |  (c.n_obs * 1000000) // t.n AS obs_ppm, e.exp_ppm
           |FROM c CROSS JOIN t LEFT JOIN e ON c.digit = e.digit
           |ORDER BY c.digit""".stripMargin
      }),

    Q("q227_mutual_information",
      // Does source leak language? MI + normalized MI between two
      // categorical columns: ONE corpus pass to the contingency cells
      // (partial-agg groupBy), every log on the |L|x|S| metadata grid,
      // formula text mirrored so both engines run identical float ops.
      (s, dir) => graft.operators.Dependence.mutualInformation(
        Tables.documents(s, dir), "lang", "source"),
      """WITH cells AS (SELECT lang AS a, source AS b,
        |    count(*)::BIGINT AS nab FROM documents GROUP BY 1, 2),
        |ma AS (SELECT a, sum(nab)::BIGINT AS na FROM cells GROUP BY 1),
        |mb AS (SELECT b, sum(nab)::BIGINT AS nb FROM cells GROUP BY 1),
        |t AS (SELECT sum(nab)::BIGINT AS n FROM cells),
        |mi AS (SELECT sum((cells.nab::DOUBLE / t.n::DOUBLE)
        |      * ln(t.n::DOUBLE * cells.nab::DOUBLE
        |        / (ma.na::DOUBLE * mb.nb::DOUBLE))) AS mi
        |  FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN t),
        |e1 AS (SELECT sum(-1.0 * (na::DOUBLE / t.n::DOUBLE)
        |      * ln(na::DOUBLE / t.n::DOUBLE)) AS h1 FROM ma CROSS JOIN t),
        |e2 AS (SELECT sum(-1.0 * (nb::DOUBLE / t.n::DOUBLE)
        |      * ln(nb::DOUBLE / t.n::DOUBLE)) AS h2 FROM mb CROSS JOIN t)
        |SELECT t.n AS n, round(mi.mi, 6) AS mi,
        |  round(e1.h1, 6) AS h1, round(e2.h2, 6) AS h2,
        |  round(CASE WHEN e1.h1 <= 0.0 OR e2.h2 <= 0.0 THEN 0.0
        |    ELSE mi.mi / sqrt(e1.h1 * e2.h2) END, 6) AS nmi
        |FROM t CROSS JOIN mi CROSS JOIN e1 CROSS JOIN e2""".stripMargin),

    Q("q228_kcore",
      // k-core decomposition (k=15) of the co-purchase graph: the
      // community-density peel — drop degree<k vertices, drop incident
      // edges, repeat to fixpoint (<=8 rounds; a converged peel is
      // idempotent, so the oracle unrolls exactly 8 MATERIALIZED rounds
      // and matches the early-stopped engine). Each engine round is one
      // groupBy + two semi-joins with a localCheckpoint so lineage
      // stays O(1); the 1/4-orders slice keeps the fixture graph at a
      // density where the peel is non-trivial at every sf.
      (s, dir) => graft.operators.Graph.kCore(
        graft.operators.Graph.basketEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
          "l_orderkey", "l_partkey"),
        k = 15, maxIters = 8).orderBy("v"),
      {
        val rounds = (0 until 8).map { i =>
          s"""d$i AS MATERIALIZED (SELECT v, count(*) AS deg
             |  FROM (SELECT a AS v FROM e$i UNION ALL SELECT b AS v FROM e$i)
             |  GROUP BY v),
             |k$i AS MATERIALIZED (SELECT v FROM d$i WHERE deg >= 15),
             |e${i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e$i e
             |  JOIN k$i ka ON e.a = ka.v JOIN k$i kb ON e.b = kb.v)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH $GraphEdgeCtes,
           |$rounds
           |SELECT v, count(*)::BIGINT AS core_degree
           |FROM (SELECT a AS v FROM e8 UNION ALL SELECT b AS v FROM e8)
           |GROUP BY v ORDER BY v""".stripMargin
      }),

    Q("q229_adamic_adar",
      // Adamic-Adar link prediction on the same graph: candidate
      // missing links scored Σ 1/ln(deg w) over shared neighbors w.
      // Wedges come from each middle vertex's bounded neighbor list
      // (the repo's one pattern for pairs at scale — never an edge
      // self-join on the raw list in the engine), existing edges
      // anti-joined away, scores rounded BEFORE the (score desc, u, v)
      // top-20 so the cut is engine-exact.
      (s, dir) => graft.operators.Graph.adamicAdar(
        graft.operators.Graph.basketEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
          "l_orderkey", "l_partkey"),
        topK = 20,
        // basketEdges output is already (a < b, distinct, loop-free):
        // skip the canon re-distinct (one edge-relation shuffle saved)
        edgesCanonical = true),
      s"""WITH $GraphEdgeCtes,
         |nb AS MATERIALIZED (SELECT a AS w, b AS n FROM e0
         |  UNION ALL SELECT b AS w, a AS n FROM e0),
         |dg AS MATERIALIZED (SELECT w, count(*)::BIGINT AS deg
         |  FROM nb GROUP BY w),
         |wg AS (SELECT x.w, x.n AS u, y.n AS v
         |  FROM nb x JOIN nb y ON x.w = y.w AND x.n < y.n),
         |sc AS (SELECT u, v,
         |    round(sum(1.0 / ln(dg.deg::DOUBLE)), 6) AS aa_score
         |  FROM wg JOIN dg ON wg.w = dg.w GROUP BY u, v),
         |nf AS (SELECT sc.u, sc.v, sc.aa_score FROM sc
         |  LEFT JOIN e0 ON sc.u = e0.a AND sc.v = e0.b
         |  WHERE e0.a IS NULL)
         |SELECT u, v, aa_score FROM nf
         |ORDER BY aa_score DESC, u, v LIMIT 20""".stripMargin),

    Q("q230_pagerank",
      // Fixed-point PageRank (5 damped iterations) on the symmetrized
      // co-purchase graph — influence ranking of items. Contributions
      // round to 12 dp and sum as DECIMAL(28,12), so each iteration is
      // associativity-free and the oracle's unrolled replay matches
      // bit-for-bit; the engine's iteration is one shuffle (groupBy dst
      // + join back), edges partition once and are reused.
      (s, dir) => {
        // lazy-checkpoint the edge build BEFORE the symmetrizing union:
        // one build total (each union branch reads the cache)
        val e0 = graft.operators.Ckpt(graft.operators.Graph.basketEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
          "l_orderkey", "l_partkey"), eager = false)
        val sym = e0.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
        // symmetrized union ⇒ every node has an in-edge: the per-round
        // nodes-join is an identity and run() may skip it
        graft.operators.PageRank.run(sym, iters = 5, damping = 0.85,
            inEdgeClosed = true)
          .orderBy(col("rank").desc, col("node")).limit(50)
      },
      {
        val iters = (1 to 5).map { i =>
          s"""r$i AS MATERIALIZED (SELECT nd.node,
             |    round((1.0 - 0.85) / n.n + 0.85 * coalesce(s.s::DOUBLE, 0.0),
             |      12)::DECIMAL(28,12) AS rank
             |  FROM nd CROSS JOIN n LEFT JOIN (
             |    SELECT sy.dst AS node,
             |      sum(round(r.rank::DOUBLE / od.deg::DOUBLE, 12)
             |        ::DECIMAL(28,12)) AS s
             |    FROM sy JOIN r${i - 1} r ON sy.src = r.node
             |    JOIN od ON od.src = sy.src
             |    GROUP BY sy.dst) s ON s.node = nd.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH $GraphEdgeCtes,
           |sy AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
           |  UNION ALL SELECT b AS src, a AS dst FROM e0),
           |nd AS MATERIALIZED (SELECT DISTINCT src AS node FROM sy),
           |n AS (SELECT count(*)::DOUBLE AS n FROM nd),
           |od AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg
           |  FROM sy GROUP BY src),
           |r0 AS (SELECT node, round(1.0 / n.n, 12)::DECIMAL(28,12) AS rank
           |  FROM nd CROSS JOIN n),
           |$iters
           |SELECT node, round(rank::DOUBLE, 9) AS rank FROM r5
           |ORDER BY rank DESC, node LIMIT 50""".stripMargin
      }),

    Q("q231_label_propagation",
      // Community detection by synchronous label propagation, 4 fixed
      // rounds: adopt the most frequent neighbour label, ties to the
      // smallest. Pure integer math (counts + min-struct argmax) makes
      // the rounds shuffle-order-independent, so the oracle's unrolled
      // replay is label-for-label identical; output is community sizes.
      (s, dir) => graft.operators.Graph.labelPropagation(
        graft.operators.Graph.basketEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
          "l_orderkey", "l_partkey"),
        rounds = 4).orderBy("label"),
      {
        val rounds = (1 to 4).map { i =>
          s"""c$i AS (SELECT nb.v, l.label, count(*) AS cnt
             |  FROM nb JOIN l${i - 1} l ON nb.n = l.v GROUP BY 1, 2),
             |l$i AS MATERIALIZED (SELECT v, label FROM (
             |    SELECT v, label, row_number() OVER (PARTITION BY v
             |      ORDER BY cnt DESC, label) AS rn FROM c$i)
             |  WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH $GraphEdgeCtes,
           |nb AS MATERIALIZED (SELECT a AS v, b AS n FROM e0
           |  UNION ALL SELECT b AS v, a AS n FROM e0),
           |l0 AS MATERIALIZED (SELECT DISTINCT v, v AS label FROM nb),
           |$rounds
           |SELECT label, count(*)::BIGINT AS n_members FROM l4
           |GROUP BY label ORDER BY label""".stripMargin
      }),

    Q("q232_assortativity",
      // Degree assortativity (Newman 2002) of the co-purchase graph:
      // Pearson correlation of endpoint degrees over both orientations
      // of every edge. All moments are exact BIGINT sums; the one
      // float division happens on the final 1-row frame in the same
      // expression order in both engines.
      (s, dir) => graft.operators.Graph.assortativity(
        graft.operators.Graph.basketEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
          "l_orderkey", "l_partkey")),
      s"""WITH $GraphEdgeCtes,
         |nb AS MATERIALIZED (SELECT a AS v, b AS n FROM e0
         |  UNION ALL SELECT b AS v, a AS n FROM e0),
         |dg AS MATERIALIZED (SELECT v, count(*)::BIGINT AS deg
         |  FROM nb GROUP BY v),
         |sym AS (SELECT dx.deg AS dx, dy.deg AS dy FROM nb
         |  JOIN dg dx ON nb.v = dx.v JOIN dg dy ON nb.n = dy.v),
         |m AS (SELECT count(*)::BIGINT AS m, sum(dx)::BIGINT AS sx,
         |    sum(dx * dx)::BIGINT AS sxx, sum(dx * dy)::BIGINT AS sxy
         |  FROM sym)
         |SELECT (m // 2)::BIGINT AS n_edges,
         |  round((m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sx::DOUBLE)
         |      / (m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
         |    AS r
         |FROM m""".stripMargin),

    Q("q233_cuped",
      // CUPED variance-reduced experiment readout (Deng et al. 2013):
      // arms by customer-key parity, covariate = pre-1998 revenue,
      // metric = 1998+ revenue. Per-customer sums accumulate in
      // DECIMAL (exact, any order), the θ/means algebra runs on the
      // 1-row pivoted moment frame in identical expression order in
      // both engines; oracle decimal→double casts are varchar-mediated
      // (the repo's exact int128 conversion path).
      (s, dir) => {
        val d = org.apache.spark.sql.types.DecimalType(18, 4)
        val cut = lit("1998-01-01").cast("timestamp")
        val per = Tables.orders(s, dir).groupBy(col("o_custkey"))
          .agg(sum(when(col("o_orderdate") < cut,
              col("o_totalprice").cast(d)).otherwise(lit(0).cast(d))).as("x"),
            sum(when(col("o_orderdate") >= cut,
              col("o_totalprice").cast(d)).otherwise(lit(0).cast(d))).as("y"))
        graft.operators.AbTest.cuped(per, "x", "y",
          col("o_custkey") % 2 === 0)
      },
      """WITH per AS (SELECT o_custkey,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |        THEN o_totalprice::DECIMAL(18,4)
        |        ELSE 0::DECIMAL(18,4) END) AS x,
        |    sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
        |        THEN o_totalprice::DECIMAL(18,4)
        |        ELSE 0::DECIMAL(18,4) END) AS y
        |  FROM orders GROUP BY 1),
        |mo AS (SELECT (o_custkey % 2 = 0) AS a, count(*)::DOUBLE AS n,
        |    (sum(x::DECIMAL(19,4))::VARCHAR)::DOUBLE AS sx,
        |    (sum(y::DECIMAL(19,4))::VARCHAR)::DOUBLE AS sy,
        |    (sum(x::DECIMAL(19,4) * y::DECIMAL(19,4))::VARCHAR)::DOUBLE AS sxy,
        |    (sum(x::DECIMAL(19,4) * x::DECIMAL(19,4))::VARCHAR)::DOUBLE AS sxx
        |  FROM per GROUP BY 1),
        |w AS (SELECT
        |    max(CASE WHEN a THEN n END) AS na,
        |    max(CASE WHEN a THEN sx END) AS sxa,
        |    max(CASE WHEN a THEN sy END) AS sya,
        |    max(CASE WHEN a THEN sxy END) AS pa,
        |    max(CASE WHEN a THEN sxx END) AS qa,
        |    max(CASE WHEN NOT a THEN n END) AS nb,
        |    max(CASE WHEN NOT a THEN sx END) AS sxb,
        |    max(CASE WHEN NOT a THEN sy END) AS syb,
        |    max(CASE WHEN NOT a THEN sxy END) AS pb,
        |    max(CASE WHEN NOT a THEN sxx END) AS qb
        |  FROM mo),
        |t AS (SELECT *,
        |    ((pa + pb) - (sxa + sxb) * (sya + syb) / (na + nb))
        |      / ((qa + qb) - (sxa + sxb) * (sxa + sxb) / (na + nb)) AS theta,
        |    (sxa + sxb) / (na + nb) AS mx
        |  FROM w)
        |SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
        |  round(theta, 6) AS theta,
        |  round(sya / na, 6) AS mean_y_a,
        |  round(syb / nb, 6) AS mean_y_b,
        |  round(sya / na - syb / nb, 6) AS lift_raw,
        |  round((sya / na - theta * (sxa / na - mx))
        |      - (syb / nb - theta * (sxb / nb - mx)), 6) AS lift_cuped
        |FROM t""".stripMargin),

    Q("q234_survival_km",
      // Discrete-time Kaplan-Meier life table for first-view→first-
      // purchase conversion with right-censoring at the study end —
      // the latency question q151 answers for CONVERTED users only,
      // now with never-converters correctly occupying the risk set.
      // Counts are integer-exact, hazards truncated-integer ppm, and
      // the survival product is exp(Σ round(ln(1−h), 9)) with the sum
      // in DECIMAL — associativity-free on both engines; the ordered
      // prefix runs on the day-offset grid, calendar-bounded at any sf.
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val cens = ev
          .select(unix_timestamp(date_trunc("second", col("ts"))).as("s"))
          .agg(max(col("s")).as("cend"))
        graft.operators.Survival.kmDaily(
          graft.operators.Survival.viewToPurchase(ev)
            .crossJoin(broadcast(cens)),
          "t0", "tp", col("cend"))
      },
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch(date_trunc('second', ts))::BIGINT AS s FROM events),
        |ce AS (SELECT max(s)::BIGINT AS cend FROM ev),
        |v AS (SELECT user_id, min(s) AS t0 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |b AS (SELECT user_id, min(s) AS tp_any FROM ev
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |u AS (SELECT v.t0,
        |    CASE WHEN b.tp_any > v.t0 THEN b.tp_any END AS tp
        |  FROM v LEFT JOIN b USING (user_id)),
        |du AS (SELECT floor((coalesce(tp, ce.cend) - t0) / 86400.0)::BIGINT
        |    AS dur, tp IS NOT NULL AS ev FROM u, ce),
        |g AS (SELECT dur,
        |    sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS n_event,
        |    count(*)::BIGINT AS n_at FROM du GROUP BY dur),
        |r AS (SELECT dur, n_event, sum(n_at) OVER (ORDER BY dur DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS n_risk FROM g),
        |f AS (SELECT dur, n_event, n_risk,
        |    CASE WHEN n_event < n_risk THEN
        |      round(ln(1.0 - n_event::DOUBLE / n_risk::DOUBLE), 9)
        |        ::DECIMAL(28,9) END AS lnt
        |  FROM r WHERE n_event > 0),
        |k AS (SELECT dur, n_risk, n_event,
        |    max(CASE WHEN n_event = n_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY dur
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
        |    sum(lnt) OVER (ORDER BY dur
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cln
        |  FROM f)
        |SELECT dur AS d, n_risk, n_event,
        |  n_event * 1000000 // n_risk AS hazard_ppm,
        |  CASE WHEN dead = 1 THEN 0.0
        |    ELSE round(exp(cln::DOUBLE), 6) END AS survival
        |FROM k ORDER BY d""".stripMargin),

    Q("q235_daily_acf",
      // Autocorrelation of daily order revenue at lags 1..7 — the
      // weekly-seasonality fingerprint. One corpus scan partial-aggs
      // to the calendar-bounded daily grid; centred cross terms are
      // bit-identical doubles rounded to integers and summed in
      // DECIMAL, so both engines reduce the grid exactly.
      (s, dir) => graft.operators.TimeSeries.dailyAcf(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice", maxLag = 7),
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS d,
        |    sum(o_totalprice::DECIMAL(18,4)) AS x
        |  FROM orders GROUP BY 1),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |    (sum(x)::VARCHAR)::DOUBLE AS sx FROM daily),
        |c AS (SELECT d, x::DOUBLE - (st.sx / st.n) AS c FROM daily, st),
        |dn AS (SELECT (sum(round(c * c, 0)::DECIMAL(28,0))::VARCHAR)::DOUBLE
        |    AS den FROM c),
        |p AS (SELECT t.lag, count(*)::BIGINT AS n_pairs,
        |    (sum(round(a.c * b.c, 0)::DECIMAL(28,0))::VARCHAR)::DOUBLE AS num
        |  FROM generate_series(1, 7) AS t(lag)
        |  JOIN c a ON true
        |  JOIN c b ON b.d = a.d + t.lag * INTERVAL 1 DAY
        |  GROUP BY 1)
        |SELECT p.lag::INT AS lag, p.n_pairs,
        |  round(p.num / dn.den, 6) AS acf
        |FROM p, dn ORDER BY lag""".stripMargin),

    Q("q236_llr_collocations",
      // Dunning G² (log-likelihood ratio) collocations over ADJACENT
      // bigrams — the evidence-weighted complement to q112's PMI
      // (which over-rewards rare pairs). Contingency cells are exact
      // bigram counts; G² is one deterministic x·ln x expression per
      // surviving pair on the vocabulary-scale frame, marginals
      // broadcast, ties broken lexically under the rounded score.
      (s, dir) => TextAnalysis.llrBigrams(
        Tables.documents(s, dir), "text", minCount = 5L)
        .orderBy(col("g2").desc, col("w1"), col("w2")).limit(30),
      {
        def xlx(e: String) =
          s"(CASE WHEN ($e) > 0 THEN ($e)::DOUBLE * ln(($e)::DOUBLE) ELSE 0.0 END)"
        s"""WITH toks AS (SELECT $toksSql AS l FROM documents),
           |bg AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM (
           |    SELECT unnest([struct_pack(w1 := l[i], w2 := l[i+1])
           |      for i in range(1, len(l))]) AS p
           |    FROM toks WHERE len(l) >= 2)),
           |c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg
           |  GROUP BY 1, 2 HAVING count(*) >= 5),
           |m1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM bg GROUP BY 1),
           |m2 AS (SELECT w2, count(*)::BIGINT AS c2 FROM bg GROUP BY 1),
           |nt AS (SELECT count(*)::BIGINT AS n FROM bg)
           |SELECT w1, w2, c12, c1, c2,
           |  round(2.0 * (${xlx("c12")} + ${xlx("c1 - c12")}
           |    + ${xlx("c2 - c12")} + ${xlx("n - c1 - c2 + c12")}
           |    - ${xlx("c1")} - ${xlx("n - c1")}
           |    - ${xlx("c2")} - ${xlx("n - c2")}
           |    + ${xlx("n")}), 6) AS g2
           |FROM c12 JOIN m1 USING (w1) JOIN m2 USING (w2), nt
           |ORDER BY g2 DESC, w1, w2 LIMIT 30""".stripMargin
      }),

    Q("q237_stratified_ate",
      // Post-stratified average treatment effect (the exact-propensity
      // IPW estimator): arms by user-key parity, strata by event type,
      // outcome = event value. Per-cell decimal moments from one scan;
      // per-stratum contributions round to 9 dp and sum in DECIMAL so
      // the ATE reduction is order-free; the '__ate' terminal row
      // carries the estimate.
      (s, dir) => graft.operators.Causal.stratifiedEffect(
        Tables.events(s, dir), "event_type",
        col("user_id") % 2 === 0, "value").orderBy("stratum"),
      """WITH cells AS (SELECT event_type::VARCHAR AS stratum,
        |    (user_id % 2 = 0) AS t, count(*)::BIGINT AS n,
        |    sum(value::DECIMAL(18,4)) AS s
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT stratum,
        |    coalesce(max(CASE WHEN t THEN n END), 0)
        |      + coalesce(max(CASE WHEN NOT t THEN n END), 0) AS n,
        |    coalesce(max(CASE WHEN t THEN n END), 0) AS n_treat,
        |    CASE WHEN max(CASE WHEN t THEN n END) IS NOT NULL THEN
        |      (max(CASE WHEN t THEN s END)::VARCHAR)::DOUBLE
        |        / max(CASE WHEN t THEN n END)::DOUBLE END AS mt,
        |    CASE WHEN max(CASE WHEN NOT t THEN n END) IS NOT NULL THEN
        |      (max(CASE WHEN NOT t THEN s END)::VARCHAR)::DOUBLE
        |        / max(CASE WHEN NOT t THEN n END)::DOUBLE END AS mc
        |  FROM cells GROUP BY 1),
        |w2 AS (SELECT *, mt - mc AS diff FROM w),
        |tot AS (SELECT sum(n)::BIGINT AS tn, sum(n_treat)::BIGINT AS tt,
        |    sum(CASE WHEN diff IS NOT NULL THEN n ELSE 0 END)::BIGINT AS idn
        |  FROM w2),
        |ps AS (SELECT stratum, n, n_treat, round(mt, 6) AS mean_treat,
        |    round(mc, 6) AS mean_control, round(diff, 6) AS diff FROM w2),
        |ate AS (SELECT '__ate' AS stratum, tot.tn AS n, tot.tt AS n_treat,
        |    NULL::DOUBLE AS mean_treat, NULL::DOUBLE AS mean_control,
        |    round((sum(round((w2.n::DOUBLE / tot.idn::DOUBLE) * w2.diff, 9)
        |      ::DECIMAL(28,9))::VARCHAR)::DOUBLE, 6) AS diff
        |  FROM w2, tot WHERE w2.diff IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT * FROM ps UNION ALL SELECT * FROM ate
        |ORDER BY stratum""".stripMargin),

    Q("q238_conformal_threshold",
      // Split-conformal prediction thresholds: per-language mean-chars
      // predictor fit on even doc_ids, |residual| scores on odd ones,
      // q̂ = the ⌈(n+1)(1−α)⌉-th smallest score at α = 0.1 — the
      // distribution-free interval width with finite-sample coverage.
      // Selection runs on the (lang, score) grid with bucketed-prefix
      // cumulatives (q223's machinery, conformal rank target); rank
      // math is exact LONG.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val mean = docs.filter(col("doc_id") % 2 === 0)
          .groupBy("lang").agg((sum(col("n_chars")).cast("double")
            / count(lit(1)).cast("double")).as("pred"))
        val cal = docs.filter(col("doc_id") % 2 === 1)
          .join(broadcast(mean), "lang")
          .select(col("lang"),
            abs(col("n_chars").cast("double") - col("pred")).as("score"))
        graft.operators.Conformal.thresholds(cal, "lang", "score",
          alpha = 0.1).orderBy("lang")
      },
      """WITH tr AS (SELECT lang, sum(n_chars)::DOUBLE / count(*)::DOUBLE
        |    AS pred FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |cal AS (SELECT d.lang, abs(d.n_chars::DOUBLE - tr.pred) AS v
        |  FROM documents d JOIN tr USING (lang) WHERE d.doc_id % 2 = 1),
        |pv AS (SELECT lang, v, count(*)::BIGINT AS n_v FROM cal
        |  GROUP BY 1, 2),
        |st AS (SELECT lang, sum(n_v)::BIGINT AS n_g FROM pv GROUP BY 1),
        |c AS (SELECT pv.lang, pv.v, pv.n_v, st.n_g,
        |    coalesce(sum(pv.n_v) OVER (PARTITION BY pv.lang ORDER BY pv.v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM pv JOIN st USING (lang)),
        |t AS (SELECT *, ceil((n_g::DOUBLE + 1.0) * (1.0 - 0.1))::BIGINT
        |    AS tgt FROM c),
        |hit AS (SELECT lang, v AS qhat FROM t
        |  WHERE tgt > below AND tgt <= below + n_v)
        |SELECT st.lang, st.n_g AS n_cal, hit.qhat
        |FROM st LEFT JOIN hit USING (lang) ORDER BY lang""".stripMargin),

    Q("q239_jl_projection",
      // Johnson-Lindenstrauss ±1 random projection 64→16 dims with a
      // HASH-DERIVED sign matrix (md5 nibble parity) — reproducible
      // across engines and cluster sizes with no RNG state. Sign
      // matrix is metadata (broadcast); per-cell products round to
      // 9 dp and sum in DECIMAL, so the projection is engine-exact.
      // The training-free companion to PCA (q201).
      (s, dir) => graft.operators.Projection.jlProject(
        Tables.embeddings(s, dir).filter(col("vec_id") < 20),
        "vec_id", "embedding", inDim = 64, outDim = 16)
        .orderBy("vec_id", "j"),
      """WITH sgn AS (SELECT ii.i, jj.j,
        |    CASE WHEN substr(md5(ii.i || '_' || jj.j), 1, 1)
        |      IN ('0','2','4','6','8','a','c','e')
        |      THEN 1.0 ELSE -1.0 END AS s
        |  FROM (SELECT unnest(range(0, 64)) AS i) ii,
        |       (SELECT unnest(range(0, 16)) AS j) jj),
        |e AS (SELECT em.vec_id, ii.i, em.embedding[ii.i + 1] AS x
        |  FROM embeddings em, (SELECT unnest(range(0, 64)) AS i) ii
        |  WHERE em.vec_id < 20),
        |t AS (SELECT e.vec_id, sgn.j,
        |    round(e.x::DOUBLE * sgn.s, 9)::DECIMAL(28,9) AS t
        |  FROM e JOIN sgn ON e.i = sgn.i)
        |SELECT vec_id, j, round(sum(t)::DOUBLE / sqrt(16.0), 6) AS p
        |FROM t GROUP BY 1, 2 ORDER BY vec_id, j""".stripMargin),

    Q("q240_seasonal_index",
      // Day-of-week seasonal index of order revenue: mean daily total
      // per dow over the overall mean daily total — the multiplicative
      // seasonality profile behind q235's ACF spikes. One scan to the
      // calendar-bounded daily grid; decimal day sums, two identical
      // divisions per dow row.
      (s, dir) => graft.operators.TimeSeries.seasonalIndex(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice"),
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS d,
        |    sum(o_totalprice::DECIMAL(18,4)) AS x FROM orders GROUP BY 1),
        |o AS (SELECT count(*)::DOUBLE AS nd,
        |    (sum(x)::VARCHAR)::DOUBLE AS sx FROM daily),
        |g AS (SELECT dayofweek(d)::INT AS dow, count(*)::BIGINT AS n_days,
        |    (sum(x)::VARCHAR)::DOUBLE AS s FROM daily GROUP BY 1)
        |SELECT g.dow, g.n_days,
        |  round(g.s / g.n_days::DOUBLE, 6) AS mean_daily,
        |  round((g.s / g.n_days::DOUBLE) / (o.sx / o.nd), 6)
        |    AS seasonal_index
        |FROM g, o ORDER BY dow""".stripMargin),

    Q("q241_permutation_test",
      // Seeded paired permutation test: per-user mean purchase value
      // vs mean click value, null = random sign flips from md5 nibble
      // parity of (perm, user) — reproducible on any engine, no RNG
      // state. 200 replicas are one map + partial-agg pass over the
      // m×n flip relation; |T_p| ≥ |T_0| compares DECIMALs exactly, so
      // extremeness is never a float coin-flip. Add-one p-value.
      (s, dir) => {
        val d = org.apache.spark.sql.types.DecimalType(18, 4)
        val per = Tables.events(s, dir)
          .filter(col("event_type").isin("purchase", "click"))
          .groupBy("user_id")
          .agg(sum(when(col("event_type") === "purchase",
              col("value").cast(d))).as("sp"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("np"),
            sum(when(col("event_type") === "click",
              col("value").cast(d))).as("sc"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("nc"))
          .filter(col("np") > 0 && col("nc") > 0)
          .select(col("user_id"),
            (col("sp").cast("double") / col("np").cast("double")
              - col("sc").cast("double") / col("nc").cast("double")).as("d"))
        graft.operators.Resample.permutationTest(per, "user_id", "d",
          mPerms = 200)
      },
      """WITH pu AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase'
        |      THEN value::DECIMAL(18,4) END) AS sp,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      ::BIGINT AS np,
        |    sum(CASE WHEN event_type = 'click'
        |      THEN value::DECIMAL(18,4) END) AS sc,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      ::BIGINT AS nc
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY 1),
        |d AS (SELECT user_id::VARCHAR AS k,
        |    round((sp::VARCHAR)::DOUBLE / np::DOUBLE
        |      - (sc::VARCHAR)::DOUBLE / nc::DOUBLE, 9)::DECIMAL(28,9) AS d
        |  FROM pu WHERE np > 0 AND nc > 0),
        |obs AS (SELECT sum(d) AS t0, count(*)::BIGINT AS n FROM d),
        |reps AS (SELECT pp.p,
        |    sum(CASE WHEN substr(md5(pp.p || '_' || d.k), 1, 1)
        |      IN ('0','2','4','6','8','a','c','e')
        |      THEN d.d ELSE -d.d END) AS tp
        |  FROM d, (SELECT unnest(range(0, 200)) AS p) pp GROUP BY 1),
        |e AS (SELECT count(*)::BIGINT AS n_extreme FROM reps, obs
        |  WHERE abs(tp) >= abs(t0))
        |SELECT obs.n AS n_pairs,
        |  round((obs.t0::VARCHAR)::DOUBLE / obs.n::DOUBLE, 6) AS mean_diff,
        |  200 AS m_perms, e.n_extreme,
        |  round((1.0 + e.n_extreme::DOUBLE) / (200.0 + 1.0), 6) AS p_value
        |FROM obs, e""".stripMargin),

    Q("q242_jackknife_ratio",
      // Delete-one-bucket jackknife SE for a RATIO metric (average
      // order value = Σ price / Σ orders) — the experimentation-
      // platform variance estimator where unit variances don't add.
      // One partial-agg scan to 32 md5-bucket sums (metadata frame);
      // leave-one-out ratios and Tukey's variance run on it with
      // decimal-rounded reductions.
      (s, dir) => graft.operators.Resample.jackknifeRatio(
        Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_totalprice"),
            lit(1.0).as("one")),
        "o_custkey", "o_totalprice", "one", nBuckets = 32),
      """WITH b AS (SELECT
        |    ((('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::UBIGINT
        |      % 32))::BIGINT AS b,
        |    sum(o_totalprice::DECIMAL(18,4)) AS sy,
        |    sum((1.0)::DECIMAL(18,4)) AS sx
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT sum(sy) AS ty, sum(sx) AS tx,
        |    count(*)::BIGINT AS nb FROM b),
        |loo AS (SELECT tot.ty, tot.tx, tot.nb,
        |    round(((tot.ty - b.sy)::VARCHAR)::DOUBLE
        |      / ((tot.tx - b.sx)::VARCHAR)::DOUBLE, 9)::DECIMAL(28,9) AS ri
        |  FROM b, tot),
        |m AS (SELECT ty, tx, nb,
        |    (sum(ri)::VARCHAR)::DOUBLE / nb::DOUBLE AS rbar
        |  FROM loo GROUP BY 1, 2, 3),
        |q AS (SELECT loo.ty, loo.tx, loo.nb,
        |    round(((loo.ri::VARCHAR)::DOUBLE - m.rbar)
        |      * ((loo.ri::VARCHAR)::DOUBLE - m.rbar), 6)
        |      ::DECIMAL(38,6) AS q
        |  FROM loo JOIN m ON loo.ty = m.ty AND loo.tx = m.tx
        |    AND loo.nb = m.nb),
        |ss AS (SELECT ty, tx, nb, (sum(q)::VARCHAR)::DOUBLE AS ss
        |  FROM q GROUP BY 1, 2, 3)
        |SELECT round((ty::VARCHAR)::DOUBLE / (tx::VARCHAR)::DOUBLE, 6)
        |    AS r,
        |  round(sqrt((nb::DOUBLE - 1.0) / nb::DOUBLE * ss), 6) AS se_jack,
        |  nb::INT AS n_buckets
        |FROM ss""".stripMargin),

    Q("q243_winsorized_mean",
      // Winsorized mean per event type: values clamp to the
      // [1/16, 15/16] discrete quantiles (binary-exact fractions per
      // the quantileDisc contract) before averaging — the robust
      // metric for heavy-tailed outcomes. Thresholds from the
      // no-global-sort grid machinery, broadcast back; clamped values
      // are existing 2-dp data values so both sums stay decimal-exact.
      (s, dir) => graft.operators.Ranks.winsorizedMean(
        Tables.events(s, dir), "event_type", "value",
        pLo = 0.0625, pHi = 0.9375).orderBy("event_type"),
      """WITH th AS (SELECT event_type,
        |    quantile_disc(value, 0.0625) AS lo,
        |    quantile_disc(value, 0.9375) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, count(*)::BIGINT AS n, th.lo, th.hi,
        |  round((sum(e.value::DECIMAL(18,4))::VARCHAR)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS mean_raw,
        |  round((sum(greatest(least(e.value, th.hi), th.lo)
        |    ::DECIMAL(18,4))::VARCHAR)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS mean_winsor
        |FROM events e JOIN th USING (event_type)
        |GROUP BY 1, th.lo, th.hi ORDER BY 1""".stripMargin),

    Q("q244_theilsen_trend",
      // Theil-Sen robust trend of daily revenue: median of all
      // pairwise slopes (breakdown 29%) + companion intercept. The
      // pairwise relation is CALENDAR² (≈3M pairs for 7 years at any
      // corpus size); slopes are bit-identical doubles from exact
      // decimal day sums and integer day distances; both medians are
      // exact value-grid selections (quantileDisc convention, pinned
      // equal to DuckDB quantile_disc by q223).
      (s, dir) => graft.operators.TimeSeries.theilSenDaily(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice"),
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS dd,
        |    sum(o_totalprice::DECIMAL(18,4)) AS x FROM orders GROUP BY 1),
        |g AS (SELECT date_diff('day', DATE '1970-01-01', dd::DATE)::INT
        |    AS t, (x::VARCHAR)::DOUBLE AS x FROM daily),
        |p AS (SELECT (b.x - a.x) / (b.t - a.t)::DOUBLE AS s
        |  FROM g a JOIN g b ON b.t > a.t),
        |sl AS (SELECT quantile_disc(s, 0.5) AS slope FROM p),
        |r AS (SELECT (g.x - sl.slope * g.t) AS r FROM g, sl),
        |ic AS (SELECT quantile_disc(r, 0.5) AS intercept FROM r)
        |SELECT (SELECT count(*) FROM g)::BIGINT AS n_days,
        |  (SELECT count(*) FROM p)::BIGINT AS n_pairs,
        |  round(sl.slope, 6) AS slope_per_day,
        |  round(ic.intercept, 6) AS intercept
        |FROM sl, ic""".stripMargin),

    Q("q245_chi2_independence",
      // Pearson χ² independence test + Cramér's V for event type ×
      // user-key residue — the classical hypothesis-test companion to
      // q227's mutual information, same one-scan contingency shape.
      // Per-cell (O−E)²/E terms round to 9 dp and sum in DECIMAL.
      (s, dir) => graft.operators.Dependence.chi2(
        Tables.events(s, dir)
          .select(col("event_type"), (col("user_id") % 3).as("arm3")),
        "event_type", "arm3"),
      """WITH cells AS (SELECT event_type AS a, (user_id % 3)::BIGINT AS b,
        |    count(*)::BIGINT AS nab FROM events GROUP BY 1, 2),
        |ma AS (SELECT a, sum(nab)::BIGINT AS na FROM cells GROUP BY 1),
        |mb AS (SELECT b, sum(nab)::BIGINT AS nb FROM cells GROUP BY 1),
        |tt AS (SELECT (SELECT sum(na) FROM ma)::BIGINT AS n,
        |    (SELECT count(*) FROM ma)::BIGINT AS ka,
        |    (SELECT count(*) FROM mb)::BIGINT AS kb),
        |grid AS (SELECT ma.a, ma.na, mb.b, mb.nb FROM ma, mb),
        |t AS (SELECT tt.n, tt.ka, tt.kb,
        |    round((coalesce(cells.nab, 0)::DOUBLE
        |        - g.na::DOUBLE * g.nb::DOUBLE / tt.n::DOUBLE)
        |      * (coalesce(cells.nab, 0)::DOUBLE
        |        - g.na::DOUBLE * g.nb::DOUBLE / tt.n::DOUBLE)
        |      / (g.na::DOUBLE * g.nb::DOUBLE / tt.n::DOUBLE), 9)
        |      ::DECIMAL(28,9) AS t
        |  FROM grid g LEFT JOIN cells ON g.a = cells.a AND g.b = cells.b,
        |    tt),
        |s AS (SELECT n, ka, kb, (sum(t)::VARCHAR)::DOUBLE AS x2 FROM t
        |  GROUP BY 1, 2, 3)
        |SELECT n, ((ka - 1) * (kb - 1))::BIGINT AS dof,
        |  round(x2, 6) AS chi2,
        |  CASE WHEN (ka - 1) * (kb - 1) = 0 THEN NULL
        |    ELSE round(sqrt(x2 / (n::DOUBLE
        |      * least(ka - 1, kb - 1)::DOUBLE)), 6) END AS cramers_v
        |FROM s""".stripMargin),

    Q("q246_personalized_pagerank",
      // Personalized PageRank (random walk with restart) on the
      // co-purchase graph: teleport mass returns only to the seed
      // items (partkey % 97 = 0), so ranks measure proximity TO THE
      // SEEDS — the "related items" expansion primitive. Same
      // fixed-point decimal algebra as q230, unrolled bit-for-bit.
      (s, dir) => {
        // one edge build under a lazy checkpoint — see q230
        val e0 = graft.operators.Ckpt(graft.operators.Graph.basketEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
          "l_orderkey", "l_partkey"), eager = false)
        val sym = e0.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
        val seeds = sym.select(col("src").as("node")).distinct()
          .filter(col("node") % 97 === 0)
        graft.operators.PageRank.personalized(sym, seeds,
          iters = 4, damping = 0.85)
          .orderBy(col("rank").desc, col("node")).limit(50)
      },
      {
        val iters = (1 to 4).map { i =>
          s"""r$i AS MATERIALIZED (SELECT nd.node, nd.sd,
             |    round(nd.sd::DOUBLE * (1.0 - 0.85) / ns.ns
             |      + 0.85 * coalesce(s.s::DOUBLE, 0.0), 12)
             |      ::DECIMAL(28,12) AS rank
             |  FROM nd CROSS JOIN ns LEFT JOIN (
             |    SELECT sy.dst AS node,
             |      sum(round(r.rank::DOUBLE / od.deg::DOUBLE, 12)
             |        ::DECIMAL(28,12)) AS s
             |    FROM sy JOIN r${i - 1} r ON sy.src = r.node
             |    JOIN od ON od.src = sy.src
             |    GROUP BY sy.dst) s ON s.node = nd.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH $GraphEdgeCtes,
           |sy AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
           |  UNION ALL SELECT b AS src, a AS dst FROM e0),
           |nd AS MATERIALIZED (SELECT node,
           |    CASE WHEN node % 97 = 0 THEN 1 ELSE 0 END AS sd
           |  FROM (SELECT DISTINCT src AS node FROM sy)),
           |ns AS (SELECT sum(sd)::DOUBLE AS ns FROM nd),
           |od AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg
           |  FROM sy GROUP BY src),
           |r0 AS (SELECT node, sd,
           |    round(sd::DOUBLE / ns.ns, 12)::DECIMAL(28,12) AS rank
           |  FROM nd CROSS JOIN ns),
           |$iters
           |SELECT node, round(rank::DOUBLE, 9) AS rank FROM r4
           |ORDER BY rank DESC, node LIMIT 50""".stripMargin
      }),

    Q("q247_ucb_allocation",
      // UCB1 bandit allocation scores per event-type arm, rewards
      // max-normalized to [0, 1] — the batch-scoring half of a bandit
      // serving layer. One scan to per-arm decimal reward sums; the
      // exploration bonus is one fixed expression on the arm frame.
      (s, dir) => {
        val ev = Tables.events(s, dir).filter(col("value").isNotNull)
        val vm = broadcast(ev.agg(max(col("value")).as("vmax")))
        graft.operators.Bandit.ucb1(ev.crossJoin(vm), "event_type",
          col("value") / col("vmax"))
      },
      """WITH vm AS (SELECT max(value) AS vmax FROM events
        |  WHERE value IS NOT NULL),
        |c AS (SELECT event_type AS arm, count(*)::BIGINT AS n,
        |    sum((value / vm.vmax)::DECIMAL(18,6)) AS s
        |  FROM events, vm WHERE value IS NOT NULL GROUP BY 1),
        |t AS (SELECT sum(n)::BIGINT AS bigN FROM c)
        |SELECT arm, n, round((s::VARCHAR)::DOUBLE / n::DOUBLE, 6)
        |    AS mean_reward,
        |  round((s::VARCHAR)::DOUBLE / n::DOUBLE
        |    + sqrt(2.0 * ln(t.bigN::DOUBLE) / n::DOUBLE), 6) AS ucb1
        |FROM c, t ORDER BY ucb1 DESC, arm""".stripMargin),

    Q("q248_hill_tail_index",
      // Hill estimator of the power-law tail index of per-customer
      // revenue from the top-101 order statistics — the "does this
      // metric even have a finite variance?" gate in front of the
      // mean-based readouts. TakeOrdered pulls k+1 rows; ln terms
      // round to 9 dp and sum in DECIMAL; boundary ties are harmless
      // (the top-(k+1) value multiset is tiebreak-independent).
      (s, dir) => graft.operators.Tail.hill(
        Tables.orders(s, dir).groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("x")),
        "x", k = 100),
      """WITH cust AS (SELECT
        |    (sum(o_totalprice::DECIMAL(18,4))::VARCHAR)::DOUBLE AS v
        |  FROM orders GROUP BY o_custkey),
        |pos AS (SELECT v FROM cust WHERE v > 0),
        |top AS (SELECT v FROM pos ORDER BY v DESC LIMIT 101),
        |thr AS (SELECT min(v) AS xk1, count(*)::BIGINT AS m FROM top),
        |t AS (SELECT thr.xk1, thr.m,
        |    round(ln(v / thr.xk1), 9)::DECIMAL(28,9) AS t
        |  FROM top, thr WHERE v > thr.xk1)
        |SELECT count(*)::BIGINT AS k, xk1 AS x_k1,
        |  round((sum(t)::VARCHAR)::DOUBLE / count(*)::DOUBLE, 6)
        |    AS hill_h,
        |  round(count(*)::DOUBLE / (sum(t)::VARCHAR)::DOUBLE, 6) AS alpha
        |FROM t GROUP BY xk1, m""".stripMargin),

    Q("q249_cusum_changepoint",
      // CUSUM change-point scan of daily revenue: argmax_t |Σ(x−μ̂)|
      // localizes the mean shift that per-batch drift monitors (PSI)
      // can only flag. Centred terms are bit-identical doubles rounded
      // to 4 dp; prefix sum AND argmax run on DECIMALs over the
      // calendar grid (ties to the earliest day, compared exactly).
      (s, dir) => graft.operators.TimeSeries.cusumDaily(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice"),
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS d,
        |    sum(o_totalprice::DECIMAL(18,4)) AS x FROM orders GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS n,
        |    (sum(x)::VARCHAR)::DOUBLE AS sx FROM daily),
        |c AS (SELECT d, st.n,
        |    (x::DOUBLE - st.sx / st.n::DOUBLE) AS c FROM daily, st),
        |cum AS (SELECT d, n,
        |    sum(round(c, 4)::DECIMAL(38,4)) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
        |    round(c * c, 0)::DECIMAL(38,0) AS q FROM c),
        |den AS (SELECT (sum(q)::VARCHAR)::DOUBLE AS den FROM cum),
        |pk AS (SELECT n, d, s FROM cum
        |  ORDER BY abs(s) DESC, d ASC LIMIT 1)
        |SELECT pk.n AS n_days, pk.d::TIMESTAMP AS change_date,
        |  round((pk.s::VARCHAR)::DOUBLE, 6) AS cusum_peak,
        |  round(abs((pk.s::VARCHAR)::DOUBLE) / sqrt(den.den), 6)
        |    AS cusum_stat
        |FROM pk, den""".stripMargin),

    Q("q250_js_divergence",
      // Jensen-Shannon divergence between the language distributions
      // of the even and odd corpus halves — the bounded symmetric
      // categorical-drift measure beside q167's binned PSI; zero
      // cells are exact limits, no smoothing constant. One scan to
      // the language grid, 9-dp decimal term sums.
      (s, dir) => graft.operators.Drift.jsDivergence(
        Tables.documents(s, dir), "lang", col("doc_id") % 2 === 0),
      """WITH cells AS (SELECT lang AS k,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
        |    sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END)::BIGINT AS cb
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
        |  FROM cells),
        |t AS (SELECT tot.na, tot.nb, round(
        |    (CASE WHEN ca::DOUBLE / tot.na::DOUBLE > 0.0
        |      THEN ca::DOUBLE / tot.na::DOUBLE
        |        * ln((ca::DOUBLE / tot.na::DOUBLE)
        |          / ((ca::DOUBLE / tot.na::DOUBLE
        |            + cb::DOUBLE / tot.nb::DOUBLE) / 2.0))
        |      ELSE 0.0 END) / 2.0
        |    + (CASE WHEN cb::DOUBLE / tot.nb::DOUBLE > 0.0
        |      THEN cb::DOUBLE / tot.nb::DOUBLE
        |        * ln((cb::DOUBLE / tot.nb::DOUBLE)
        |          / ((ca::DOUBLE / tot.na::DOUBLE
        |            + cb::DOUBLE / tot.nb::DOUBLE) / 2.0))
        |      ELSE 0.0 END) / 2.0, 9)::DECIMAL(28,9) AS t
        |  FROM cells, tot),
        |s AS (SELECT na, nb, (sum(t)::VARCHAR)::DOUBLE AS js FROM t
        |  GROUP BY 1, 2)
        |SELECT na AS n_a, nb AS n_b, round(js, 6) AS js_nats,
        |  round(js / ln(2.0), 6) AS js_norm
        |FROM s""".stripMargin),

    Q("q251_clustering_coefficient",
      // Per-vertex local clustering coefficient of the co-purchase
      // graph — q164's global closure rate localized (cliques vs
      // stars). Compact-forward wedges + semi-join closure; each
      // triangle credits its three corners via one explode; exact
      // integer counts, one rounded division per vertex.
      (s, dir) => graft.operators.Triangles.localClustering(
        graft.operators.Graph.basketEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
          "l_orderkey", "l_partkey")).orderBy("v"),
      s"""WITH $GraphEdgeCtes,
         |deg AS (SELECT v, count(*)::BIGINT AS deg FROM (
         |    SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0)
         |  GROUP BY v),
         |tri AS (SELECT v, count(*)::BIGINT AS n_tri FROM (
         |    SELECT unnest([w.x, w.y, w.z]) AS v FROM (
         |      SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |      FROM e0 e1 JOIN e0 e2 ON e1.b = e2.a
         |      WHERE EXISTS (SELECT 1 FROM e0 e3
         |        WHERE e3.a = e1.a AND e3.b = e2.b)) w)
         |  GROUP BY v)
         |SELECT deg.v, deg.deg, coalesce(tri.n_tri, 0)::BIGINT AS n_tri,
         |  CASE WHEN deg.deg < 2 THEN 0.0
         |    ELSE round(2.0 * coalesce(tri.n_tri, 0)::DOUBLE
         |      / (deg.deg::DOUBLE * (deg.deg::DOUBLE - 1.0)), 6)
         |  END AS lcc
         |FROM deg LEFT JOIN tri USING (v) ORDER BY v""".stripMargin),

    Q("q252_rfm_segments",
      // RFM segmentation: recency/frequency/monetary quartile scores
      // per customer (thresholds from the exact no-global-sort grid at
      // binary-exact quartiles), reported as the occupied-cell cube
      // with customer counts and revenue. Scoring is pure integer
      // comparisons against broadcast thresholds.
      (s, dir) => graft.operators.Customer.rfmSegments(
        Tables.orders(s, dir), "o_custkey", "o_orderdate",
        "o_totalprice"),
      """WITH mx AS (SELECT max(date_trunc('day', o_orderdate)) AS dmax
        |  FROM orders),
        |per AS (SELECT o_custkey,
        |    date_diff('day', max(date_trunc('day', o_orderdate))::DATE,
        |      mx.dmax::DATE)::INT AS r,
        |    count(*)::BIGINT AS f,
        |    sum(o_totalprice::DECIMAL(18,4)) AS mdec
        |  FROM orders, mx GROUP BY o_custkey, mx.dmax),
        |th AS (SELECT
        |    quantile_disc(r::DOUBLE, 0.25) AS rq1,
        |    quantile_disc(r::DOUBLE, 0.5) AS rq2,
        |    quantile_disc(r::DOUBLE, 0.75) AS rq3,
        |    quantile_disc(f::DOUBLE, 0.25) AS fq1,
        |    quantile_disc(f::DOUBLE, 0.5) AS fq2,
        |    quantile_disc(f::DOUBLE, 0.75) AS fq3,
        |    quantile_disc((mdec::VARCHAR)::DOUBLE, 0.25) AS mq1,
        |    quantile_disc((mdec::VARCHAR)::DOUBLE, 0.5) AS mq2,
        |    quantile_disc((mdec::VARCHAR)::DOUBLE, 0.75) AS mq3
        |  FROM per),
        |sc AS (SELECT
        |    1 + (CASE WHEN r::DOUBLE > th.rq1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN r::DOUBLE > th.rq2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN r::DOUBLE > th.rq3 THEN 1 ELSE 0 END)
        |      AS r_score,
        |    1 + (CASE WHEN f::DOUBLE > th.fq1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN f::DOUBLE > th.fq2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN f::DOUBLE > th.fq3 THEN 1 ELSE 0 END)
        |      AS f_score,
        |    1 + (CASE WHEN (mdec::VARCHAR)::DOUBLE > th.mq1
        |        THEN 1 ELSE 0 END)
        |      + (CASE WHEN (mdec::VARCHAR)::DOUBLE > th.mq2
        |        THEN 1 ELSE 0 END)
        |      + (CASE WHEN (mdec::VARCHAR)::DOUBLE > th.mq3
        |        THEN 1 ELSE 0 END)
        |      AS m_score,
        |    mdec
        |  FROM per, th)
        |SELECT r_score::INT AS r_score, f_score::INT AS f_score,
        |  m_score::INT AS m_score, count(*)::BIGINT AS n_customers,
        |  round((sum(mdec)::VARCHAR)::DOUBLE, 2) AS revenue
        |FROM sc GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin),

    Q("q253_cohort_ltv",
      // Cohort LTV curves: cumulative revenue per acquisition-month
      // cohort by month offset, absolute and per customer — the
      // revenue companion to q125's retention counts. Decimal cumsum
      // windows per cohort over the calendar-bounded offset grid.
      (s, dir) => graft.operators.Customer.cohortLtv(
        Tables.orders(s, dir), "o_custkey", "o_orderdate",
        "o_totalprice"),
      """WITH fm AS (SELECT o_custkey AS c,
        |    min(date_trunc('month', o_orderdate)) AS cohort
        |  FROM orders GROUP BY 1),
        |sz AS (SELECT cohort, count(*)::BIGINT AS n_customers FROM fm
        |  GROUP BY 1),
        |rv AS (SELECT fm.cohort,
        |    date_diff('month', fm.cohort,
        |      date_trunc('month', o.o_orderdate))::INT AS mo,
        |    sum(o.o_totalprice::DECIMAL(18,4)) AS rev
        |  FROM orders o JOIN fm ON o.o_custkey = fm.c GROUP BY 1, 2),
        |cm AS (SELECT cohort, mo,
        |    sum(rev) OVER (PARTITION BY cohort ORDER BY mo
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rv)
        |SELECT cm.cohort::TIMESTAMP AS cohort, cm.mo AS "offset",
        |  sz.n_customers,
        |  round((cm.cum::VARCHAR)::DOUBLE, 2) AS cum_revenue,
        |  round((cm.cum::VARCHAR)::DOUBLE / sz.n_customers::DOUBLE, 6)
        |    AS ltv
        |FROM cm JOIN sz USING (cohort)
        |ORDER BY cohort, mo""".stripMargin),

    Q("q254_behavior_entropy",
      // Behavioral-diversity profile: per-user Shannon entropy of the
      // event-type histogram, summarized as mean + exact quartiles —
      // the bot-screening / stratification diagnostic. Each user's
      // entropy is a 9-dp decimal term sum (order-free); the summary
      // reuses the exact quantile grid.
      (s, dir) => graft.operators.Dependence.entropyProfile(
        Tables.events(s, dir), "user_id", "event_type"),
      """WITH cells AS (SELECT user_id AS u, event_type AS c,
        |    count(*)::BIGINT AS nc FROM events GROUP BY 1, 2),
        |tot AS (SELECT u, sum(nc)::BIGINT AS nu FROM cells GROUP BY 1),
        |ent AS (SELECT cells.u,
        |    sum(round(-1.0 * (nc::DOUBLE / nu::DOUBLE)
        |      * ln(nc::DOUBLE / nu::DOUBLE), 9)::DECIMAL(28,9)) AS hd
        |  FROM cells JOIN tot USING (u) GROUP BY 1),
        |h AS (SELECT u, hd, (hd::VARCHAR)::DOUBLE AS h FROM ent),
        |q AS (SELECT quantile_disc(h, 0.25) AS p25,
        |    quantile_disc(h, 0.5) AS p50,
        |    quantile_disc(h, 0.75) AS p75 FROM h),
        |s AS (SELECT count(*)::BIGINT AS n_entities,
        |    (sum(hd)::VARCHAR)::DOUBLE AS sh FROM h)
        |SELECT s.n_entities,
        |  round(s.sh / s.n_entities::DOUBLE, 6) AS mean_entropy,
        |  round(q.p25, 6) AS p25, round(q.p50, 6) AS p50,
        |  round(q.p75, 6) AS p75
        |FROM s, q""".stripMargin),

    Q("q255_heaps_law",
      // Heaps'-law vocabulary-growth fit V = k·N^β over md5-nested
      // corpus subsets (level L keeps hash % 2^L = 0) — q113 Zipf's
      // companion corpus health check; saturating β flags template/
      // generated text. Union of all levels costs < 2× one scan;
      // log-log OLS on the 6-point frame with 9-dp decimal term sums.
      (s, dir) => TextAnalysis.heapsLaw(
        Tables.documents(s, dir), "text", "doc_id", levels = 6),
      {
        val h = "(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))" +
          "::UBIGINT)::BIGINT"
        def t9(e: String) = s"(sum(round($e, 9)::DECIMAL(28,9))" +
          "::VARCHAR)::DOUBLE"
        val beta = "(sxy - sx * sy / np) / (sxx - sx * sx / np)"
        s"""WITH toks AS (SELECT $h AS h, unnest($toksSql) AS tok
           |  FROM documents),
           |lv AS (SELECT l.lev, tok FROM toks,
           |    (SELECT unnest(range(0, 6)) AS lev) l
           |  WHERE h % (1::BIGINT << l.lev) = 0),
           |pts AS (SELECT lev, count(*)::BIGINT AS ntok,
           |    count(DISTINCT tok)::BIGINT AS ntyp FROM lv GROUP BY 1),
           |p2 AS (SELECT lev, ntok, ntyp, ln(ntok::DOUBLE) AS x,
           |    ln(ntyp::DOUBLE) AS y FROM pts),
           |m AS (SELECT count(*)::DOUBLE AS np,
           |    ${t9("x")} AS sx, ${t9("y")} AS sy,
           |    ${t9("x * y")} AS sxy, ${t9("x * x")} AS sxx,
           |    ${t9("y * y")} AS syy,
           |    max(CASE WHEN lev = 0 THEN ntok END) AS n_tokens_full,
           |    max(CASE WHEN lev = 0 THEN ntyp END) AS n_types_full
           |  FROM p2)
           |SELECT np::BIGINT AS n_points, n_tokens_full, n_types_full,
           |  round($beta, 6) AS heaps_beta,
           |  round(exp(sy / np - $beta * (sx / np)), 6) AS heaps_k,
           |  round((sxy - sx * sy / np) * (sxy - sx * sy / np)
           |    / ((sxx - sx * sx / np) * (syy - sy * sy / np)), 6) AS r2
           |FROM m""".stripMargin
      }),

    Q("q256_label_noise",
      // kNN label-noise audit (Confident-Learning-lite): for 30 probe
      // points, the fraction of their 10 cosine-nearest neighbours
      // whose label disagrees, plus the neighbourhood majority — the
      // relabel-candidate list. Probes broadcast; scoring is the
      // codegen'd cosine map pass; per-probe top-k is a k-bounded
      // window over probe partitions.
      (s, dir) => graft.operators.ClusterEval.knnLabelNoise(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label",
        col("vec_id") < 30, k = 10),
      {
        def dot(a: String, b: String) =
          s"list_dot_product($a::DOUBLE[], $b::DOUBLE[])"
        val den = s"sqrt(${dot("e.embedding", "e.embedding")})" +
          s" * sqrt(${dot("pr.qv", "pr.qv")})"
        s"""WITH pr AS (SELECT vec_id AS qid, embedding AS qv,
           |    label AS qlabel FROM embeddings WHERE vec_id < 30),
           |sc AS (SELECT pr.qid, pr.qlabel, e.label AS nlabel,
           |    e.vec_id AS nid,
           |    round((CASE WHEN $den = 0.0 THEN 0.0
           |      ELSE ${dot("e.embedding", "pr.qv")} / ($den) END), 6)
           |      AS s
           |  FROM embeddings e, pr WHERE e.vec_id <> pr.qid),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY qid
           |    ORDER BY s DESC, nid) AS r FROM sc),
           |nb AS (SELECT * FROM rk WHERE r <= 10),
           |ag AS (SELECT qid, qlabel, count(*)::BIGINT AS n_neighbors,
           |    sum(CASE WHEN nlabel <> qlabel THEN 1 ELSE 0 END)::BIGINT
           |      AS n_disagree
           |  FROM nb GROUP BY 1, 2),
           |mj AS (SELECT qid, nlabel AS majority_label FROM (
           |    SELECT qid, nlabel, count(*) AS c,
           |      row_number() OVER (PARTITION BY qid
           |        ORDER BY count(*) DESC, nlabel) AS rr
           |    FROM nb GROUP BY qid, nlabel) WHERE rr = 1)
           |SELECT ag.qid AS vec_id, ag.qlabel AS label, ag.n_neighbors,
           |  ag.n_disagree,
           |  round(ag.n_disagree::DOUBLE / ag.n_neighbors::DOUBLE, 6)
           |    AS noise_frac,
           |  mj.majority_label
           |FROM ag JOIN mj USING (qid)
           |ORDER BY noise_frac DESC, vec_id""".stripMargin
      }),

    Q("q257_attribution_models",
      // Multi-touch attribution model FAMILY beside q175's last-touch:
      // first-touch, linear, and U-shaped (40/20/40) revenue credit
      // per channel, side by side — models that disagree flag
      // budget-decision artifacts. Pairs join purchases to same-user
      // prior touches (per-user-history bounded); ranks window over
      // purchase-id partitions, never a corpus window; credit ×
      // revenue rounds to 6 dp and sums in DECIMAL.
      (s, dir) => graft.operators.Attribution.models(
        Tables.events(s, dir), Seq("view", "click", "signup")),
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    date_trunc('second', ts) AS ts, value FROM events),
        |t AS (SELECT user_id, ts AS tts, event_id AS tid,
        |    event_type AS touch_type FROM ev
        |  WHERE event_type IN ('view', 'click', 'signup')),
        |p AS (SELECT user_id, ts AS pts, event_id AS pid,
        |    value::DECIMAL(18,4) AS rev FROM ev
        |  WHERE event_type = 'purchase'),
        |pr AS (SELECT p.pid, p.rev, t.touch_type, t.tts, t.tid
        |  FROM p JOIN t USING (user_id) WHERE t.tts < p.pts),
        |rk AS (SELECT *,
        |    row_number() OVER (PARTITION BY pid ORDER BY tts, tid) AS rn,
        |    count(*) OVER (PARTITION BY pid) AS n FROM pr),
        |cr AS (SELECT touch_type, pid,
        |    round((rev::VARCHAR)::DOUBLE
        |      * (CASE WHEN rn = 1 THEN 1.0 ELSE 0.0 END), 6)
        |      ::DECIMAL(28,6) AS cf,
        |    round((rev::VARCHAR)::DOUBLE * (1.0 / n::DOUBLE), 6)
        |      ::DECIMAL(28,6) AS cl,
        |    round((rev::VARCHAR)::DOUBLE * (CASE WHEN n = 1 THEN 1.0
        |      WHEN n = 2 THEN 0.5
        |      WHEN rn = 1 OR rn = n THEN 0.4
        |      ELSE 0.2 / (n::DOUBLE - 2.0) END), 6)::DECIMAL(28,6) AS cu
        |  FROM rk)
        |SELECT touch_type,
        |  count(DISTINCT pid)::BIGINT AS n_credited_purchases,
        |  round((sum(cf)::VARCHAR)::DOUBLE, 2) AS rev_first,
        |  round((sum(cl)::VARCHAR)::DOUBLE, 2) AS rev_linear,
        |  round((sum(cu)::VARCHAR)::DOUBLE, 2) AS rev_ushaped
        |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin),

    Q("q258_forecast_backtest",
      // Naive vs seasonal-naive one-step forecast backtest (MAPE +
      // RMSE) on daily revenue — the M-competition floor every real
      // forecaster must beat; seasonal-naive winning confirms q235/
      // q240's weekly structure. APE terms 9-dp decimal-summed,
      // squared errors integer-rounded (double-ulp-safe at revenue
      // magnitudes).
      (s, dir) => graft.operators.TimeSeries.forecastBacktest(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice"),
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS d,
        |    sum(o_totalprice::DECIMAL(18,4)) AS xd FROM orders
        |  GROUP BY 1),
        |g AS (SELECT d, (xd::VARCHAR)::DOUBLE AS x FROM daily),
        |lg AS (SELECT m.model, g.x, g2.x AS xh
        |  FROM (SELECT * FROM (VALUES ('naive1', 1), ('seasonal7', 7))
        |    v(model, lag)) m
        |  CROSS JOIN g
        |  JOIN g g2 ON g2.d = g.d - m.lag * INTERVAL 1 DAY
        |  WHERE g.x > 0.0),
        |t AS (SELECT model,
        |    round(abs(x - xh) / x, 9)::DECIMAL(28,9) AS ape,
        |    round((x - xh) * (x - xh), 0)::DECIMAL(38,0) AS se FROM lg)
        |SELECT model, count(*)::BIGINT AS n_days,
        |  round((sum(ape)::VARCHAR)::DOUBLE / count(*)::DOUBLE, 6)
        |    AS mape,
        |  round(sqrt((sum(se)::VARCHAR)::DOUBLE / count(*)::DOUBLE), 6)
        |    AS rmse
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),

    Q("q259_kmeans",
      // Engine-exact distributed k-means (Lloyd, k=4, 2 iterations):
      // the clustering TRAINER beside the evaluators (silhouette,
      // label-noise) and consumers (IVF cells, SemDeDup anchors).
      // Every drift source is pinned — smallest-id seeds, 6-dp
      // centroid components, left-fold ‖c‖², HOF dot ≡ C loop,
      // exact-struct argmin ties, DECIMAL component sums — so the
      // oracle's unrolled replay matches bit-for-bit. Each iteration
      // is one literal-centroid map pass + one k·d-row update.
      (s, dir) => graft.operators.KMeans.lloyd(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 4, iters = 2),
      {
        def iter(i: Int): String = {
          val p = i - 1
          s"""d$i AS (SELECT e.vec_id, e.embedding, c.j,
             |    list_dot_product(c.cent, c.cent)
             |      - 2.0 * list_dot_product(e.embedding::DOUBLE[], c.cent)
             |      AS d
             |  FROM embeddings e, c$p c),
             |a$i AS (SELECT vec_id, embedding, j FROM (SELECT *,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY d, j)
             |      AS rn FROM d$i) WHERE rn = 1),
             |u$i AS (SELECT j, pos,
             |    sum(round(v::DOUBLE, 6)::DECIMAL(18,10)) AS s,
             |    count(*) AS n
             |  FROM (SELECT j, unnest(embedding) AS v,
             |      generate_subscripts(embedding, 1) AS pos FROM a$i)
             |  GROUP BY j, pos),
             |n$i AS (SELECT j, list(round((s::VARCHAR)::DOUBLE / n, 6)
             |    ORDER BY pos) AS cent FROM u$i GROUP BY j),
             |c$i AS (SELECT c$p.j, coalesce(n$i.cent, c$p.cent) AS cent
             |  FROM c$p LEFT JOIN n$i USING (j))""".stripMargin
        }
        s"""WITH c0 AS (SELECT vec_id AS j,
           |    [round(x, 6) for x in embedding::DOUBLE[]] AS cent
           |  FROM embeddings WHERE vec_id < 4),
           |${iter(1)},
           |${iter(2)},
           |d3 AS (SELECT e.vec_id, e.embedding, c.j,
           |    list_dot_product(c.cent, c.cent)
           |      - 2.0 * list_dot_product(e.embedding::DOUBLE[], c.cent)
           |      AS d
           |  FROM embeddings e, c2 c),
           |a3 AS (SELECT vec_id, embedding, j, d FROM (SELECT *,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY d, j)
           |      AS rn FROM d3) WHERE rn = 1),
           |st AS (SELECT j AS cluster, count(*)::BIGINT AS n_vecs,
           |    round((sum(round(
           |      list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
           |        + d, 6)::DECIMAL(28,6))::VARCHAR)::DOUBLE, 6)
           |      AS inertia
           |  FROM a3 GROUP BY 1)
           |SELECT st.cluster, st.n_vecs, st.inertia,
           |  cc.cent[1] AS c0, cc.cent[2] AS c1,
           |  cc.cent[3] AS c2, cc.cent[4] AS c3
           |FROM st JOIN c2 cc ON st.cluster = cc.j
           |ORDER BY cluster""".stripMargin
      }),

    Q("q260_shapley_attribution",
      // EXACT Shapley-value channel attribution — the game-theoretic
      // gold standard q175/q257's heuristics approximate: coalition
      // value v(S) = conversions among users with pre-purchase
      // exposure ⊆ S, built on a 2³-row frame from one scan; the
      // factorial sum is exact (no permutation sampling) and
      // Σφ = v(full) − v(∅) by construction.
      (s, dir) => graft.operators.Attribution.shapley(
        Tables.events(s, dir), Seq("click", "signup", "view")),
      {
        // channel order matches the engine call: bit 0 = click,
        // bit 1 = signup, bit 2 = view; weights s!(n-1-s)!/n!, n = 3
        val w = "(CASE WHEN bit_count(a.s) = 2 THEN (2.0 * 1.0) / 6.0 " +
          "WHEN bit_count(a.s) = 1 THEN (1.0 * 1.0) / 6.0 " +
          "ELSE (1.0 * 2.0) / 6.0 END)"
        def leg(ch: String, bit: Int) =
          s"""SELECT '$ch' AS channel,
             |    round((b.v - a.v)::DOUBLE * $w, 9)::DECIMAL(28,9) AS t
             |  FROM v a JOIN v b ON (a.s & $bit) = 0
             |    AND b.s = (a.s | $bit)""".stripMargin
        s"""WITH ev AS (SELECT user_id, event_type,
           |    date_trunc('second', ts) AS ts FROM events),
           |fp AS (SELECT user_id, min(ts) AS pts FROM ev
           |  WHERE event_type = 'purchase' GROUP BY 1),
           |mk AS (SELECT ev.user_id,
           |    (max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           |     + max(CASE WHEN event_type = 'signup' THEN 2 ELSE 0 END)
           |     + max(CASE WHEN event_type = 'view' THEN 4 ELSE 0 END)
           |    )::BIGINT AS mask
           |  FROM ev JOIN fp USING (user_id)
           |  WHERE ev.ts < fp.pts OR ev.event_type = 'purchase'
           |  GROUP BY ev.user_id),
           |mh AS (SELECT mask, count(*)::BIGINT AS m FROM mk GROUP BY 1),
           |ss AS (SELECT unnest(range(0, 8)) AS s),
           |v AS (SELECT ss.s, sum(coalesce(mh.m, 0))::BIGINT AS v
           |  FROM ss LEFT JOIN mh ON (mh.mask & ss.s) = mh.mask
           |  GROUP BY 1),
           |t AS (${leg("click", 1)}
           |  UNION ALL ${leg("signup", 2)}
           |  UNION ALL ${leg("view", 4)})
           |SELECT channel, round((sum(t)::VARCHAR)::DOUBLE, 6) AS shapley
           |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    Q("q261_naive_bayes",
      // Engine-exact multinomial Naive Bayes: train (class, token)
      // counts on even doc_ids in ONE aggregation pass, classify odd
      // docs, report the integer-exact confusion matrix — the
      // supervised companion to the heuristic language/quality
      // scorers. Add-1 smoothed log terms round to 9 dp and DECIMAL-
      // sum per document; argmax ties break to the smallest label.
      (s, dir) => graft.text.NaiveBayes.trainEvalConfusion(
        Tables.documents(s, dir), "doc_id", "text", "lang",
        col("doc_id") % 2 === 0),
      s"""WITH base AS (SELECT doc_id, lang AS lab, (doc_id % 2 = 0)
         |    AS tr, text FROM documents),
         |toks AS (SELECT doc_id, lab, tr, unnest($toksSql) AS tok
         |  FROM base),
         |cls AS (SELECT lab AS c, count(*)::BIGINT AS ndocs FROM base
         |  WHERE tr GROUP BY 1),
         |nd AS (SELECT sum(ndocs)::BIGINT AS nd FROM cls),
         |pri AS (SELECT c, round(ln(ndocs::DOUBLE / nd.nd::DOUBLE), 9)
         |    ::DECIMAL(28,9) AS pr FROM cls, nd),
         |cnts AS (SELECT lab AS c, tok, count(*)::BIGINT AS cnt
         |  FROM toks WHERE tr GROUP BY 1, 2),
         |ct AS (SELECT c, sum(cnt)::BIGINT AS ctok FROM cnts GROUP BY 1),
         |vn AS (SELECT count(DISTINCT tok)::BIGINT AS vn FROM cnts),
         |tt AS (SELECT doc_id, tok FROM toks WHERE NOT tr),
         |ts AS (SELECT tt.doc_id, cl.c,
         |    sum(round(ln((coalesce(cnts.cnt, 0) + 1)::DOUBLE
         |      / (ct.ctok + vn.vn)::DOUBLE), 9)::DECIMAL(28,9)) AS s
         |  FROM tt CROSS JOIN (SELECT c FROM cls) cl
         |  LEFT JOIN cnts ON cnts.c = cl.c AND cnts.tok = tt.tok
         |  JOIN ct ON ct.c = cl.c, vn
         |  GROUP BY 1, 2),
         |at AS (SELECT doc_id, lab FROM base WHERE NOT tr),
         |sc AS (SELECT at.doc_id, at.lab, cl.c,
         |    coalesce(ts.s, 0::DECIMAL(28,9)) + pri.pr AS score
         |  FROM at CROSS JOIN (SELECT c FROM cls) cl
         |  LEFT JOIN ts ON ts.doc_id = at.doc_id AND ts.c = cl.c
         |  JOIN pri ON pri.c = cl.c),
         |pd AS (SELECT doc_id, lab, c FROM (SELECT *,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, c) AS rn FROM sc) WHERE rn = 1)
         |SELECT lab AS lang_true, c AS lang_pred, count(*)::BIGINT AS n
         |FROM pd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Q("q262_logistic_irls",
      // Engine-exact distributed LOGISTIC regression (3 IRLS / Fisher
      // scoring steps): is-English ~ σ(w0 + w1·kchars + w2·spaces/100).
      // Each step is one weighted-moment scan against literal weights
      // + a 3x3 Cramer solve whose operation order is shared verbatim
      // between the Scala driver and the oracle SQL, so the oracle's
      // unrolled replay matches bit-for-bit; 7-dp term rounding
      // absorbs any last-ulp libm exp() difference. Features scale by
      // POWERS OF TWO (1024/128), keeping them binary-exact: a /1000
      // scale puts every 0.25*x1^2 term EXACTLY on a 7-dp half
      // boundary (n^2*25/1e8 ends in ...25), where the engines'
      // rounding algorithms systematically disagree — found live by
      // this query's own cross-check. Completes the exact-trainer set
      // (OLS q220, k-means q259, NB q261).
      (s, dir) => {
        val f = Tables.documents(s, dir).select(
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
          (col("n_chars").cast("double") / 1024.0).as("x1"),
          ((length(col("text")) - length(expr("replace(text, ' ', '')")))
            .cast("double") / 128.0).as("x2"))
        graft.operators.Regression.logisticIrls2(f, "y", "x1", "x2",
          iters = 3)
      },
      {
        def t7(e: String) =
          s"(sum(round($e, 7)::DECIMAL(28,9))::VARCHAR)::DOUBLE"
        def iter(i: Int): String = {
          val p = i - 1
          s"""m$i AS (SELECT
             |    ${t7("s")} AS a00, ${t7("s * x1")} AS a01,
             |    ${t7("s * x2")} AS a02, ${t7("s * x1 * x1")} AS a11,
             |    ${t7("s * x1 * x2")} AS a12, ${t7("s * x2 * x2")} AS a22,
             |    ${t7("s * eta + (y - mu)")} AS b0,
             |    ${t7("x1 * (s * eta + (y - mu))")} AS b1,
             |    ${t7("x2 * (s * eta + (y - mu))")} AS b2
             |  FROM (SELECT y, x1, x2, eta, mu, mu * (1.0 - mu) AS s
             |    FROM (SELECT f.y, f.x1, f.x2,
             |        w.w0 + w.w1 * f.x1 + w.w2 * f.x2 AS eta,
             |        1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x1
             |          + w.w2 * f.x2))) AS mu
             |      FROM f, w$p w))),
             |w$i AS (SELECT
             |    (b0 * (a11 * a22 - a12 * a12)
             |      - a01 * (b1 * a22 - a12 * b2)
             |      + a02 * (b1 * a12 - a11 * b2))
             |    / (a00 * (a11 * a22 - a12 * a12)
             |      - a01 * (a01 * a22 - a12 * a02)
             |      + a02 * (a01 * a12 - a11 * a02)) AS w0,
             |    (a00 * (b1 * a22 - a12 * b2)
             |      - b0 * (a01 * a22 - a12 * a02)
             |      + a02 * (a01 * b2 - b1 * a02))
             |    / (a00 * (a11 * a22 - a12 * a12)
             |      - a01 * (a01 * a22 - a12 * a02)
             |      + a02 * (a01 * a12 - a11 * a02)) AS w1,
             |    (a00 * (a11 * b2 - b1 * a12)
             |      - a01 * (a01 * b2 - b1 * a02)
             |      + b0 * (a01 * a12 - a11 * a02))
             |    / (a00 * (a11 * a22 - a12 * a12)
             |      - a01 * (a01 * a22 - a12 * a02)
             |      + a02 * (a01 * a12 - a11 * a02)) AS w2
             |  FROM m$i)""".stripMargin
        }
        s"""WITH f AS (SELECT
           |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           |    n_chars::DOUBLE / 1024.0 AS x1,
           |    (length(text) - length(replace(text, ' ', '')))::DOUBLE
           |      / 128.0 AS x2
           |  FROM documents),
           |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)},
           |fin AS (SELECT count(*)::BIGINT AS n,
           |    sum(CASE WHEN ((w.w0 + w.w1 * f.x1 + w.w2 * f.x2) >= 0.0)
           |        = (f.y >= 0.5) THEN 1 ELSE 0 END)::BIGINT AS ok
           |  FROM f, w3 w)
           |SELECT fin.n, round(w.w0, 6) AS w0, round(w.w1, 6) AS w1,
           |  round(w.w2, 6) AS w2,
           |  round(fin.ok::DOUBLE / fin.n::DOUBLE, 6) AS accuracy
           |FROM fin, w3 w""".stripMargin
      }),

    Q("q263_decision_stump",
      // Exact depth-1 CART: the best is-English split of n_chars by
      // information gain, searched over EVERY distinct value on the
      // bucketed-prefix grid (no corpus window). Counts exact LONG,
      // gain one x·ln x expression per grid row, argmax ties to the
      // smallest split value via exact-decimal struct ordering.
      (s, dir) => graft.operators.Stump.bestSplit(
        Tables.documents(s, dir), "n_chars", col("lang") === "en"),
      {
        def xlx(e: String) =
          s"(CASE WHEN ($e) > 0 THEN ($e)::DOUBLE * ln(($e)::DOUBLE) ELSE 0.0 END)"
        s"""WITH pv AS (SELECT n_chars::DOUBLE AS v,
           |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS p_v,
           |    count(*)::BIGINT AS n_v FROM documents GROUP BY 1),
           |tt AS (SELECT sum(p_v)::BIGINT AS bigp, sum(n_v)::BIGINT AS bign
           |  FROM pv),
           |c AS (SELECT v,
           |    sum(n_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
           |      AND CURRENT ROW)::BIGINT AS nl,
           |    sum(p_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
           |      AND CURRENT ROW)::BIGINT AS pl
           |  FROM pv),
           |f AS (SELECT c.v, c.nl, c.pl, tt.bign - c.nl AS nr,
           |    tt.bigp - c.pl AS pr, tt.bign, tt.bigp
           |  FROM c, tt WHERE c.nl < tt.bign),
           |sc AS (SELECT v, nl, pl, nr, pr,
           |    round(((${xlx("bign")} - ${xlx("bigp")}
           |        - ${xlx("bign - bigp")})
           |      - (${xlx("nl")} - ${xlx("pl")} - ${xlx("nl - pl")})
           |      - (${xlx("nr")} - ${xlx("pr")} - ${xlx("nr - pr")}))
           |      / bign::DOUBLE, 9)::DECIMAL(28,9) AS ig
           |  FROM f)
           |SELECT v AS split_value, nl AS n_left, pl AS pos_left,
           |  nr AS n_right, pr AS pos_right,
           |  round((ig::VARCHAR)::DOUBLE, 6) AS info_gain
           |FROM sc ORDER BY ig DESC, v ASC LIMIT 1""".stripMargin
      }),

    Q("q264_average_precision",
      // Average precision (step-rule PR-AUC) of the n_chars ranking
      // for is-English under the STRICT deterministic order
      // (score desc, doc_id asc) — q222 AUC's tie-averaged companion.
      // Global ranks and cumulative positives both ride the bucketed
      // machinery; per-positive precision terms 9-dp DECIMAL-summed.
      (s, dir) => graft.operators.Ranks.averagePrecision(
        Tables.documents(s, dir), "n_chars", "doc_id",
        col("lang") === "en"),
      """WITH r AS (SELECT doc_id, (lang = 'en') AS y,
        |    row_number() OVER (ORDER BY -(n_chars::DOUBLE) ASC,
        |      doc_id ASC) AS rank
        |  FROM documents),
        |c AS (SELECT y, rank,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) OVER (ORDER BY rank
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cum
        |  FROM r),
        |t AS (SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos,
        |    (sum(CASE WHEN y THEN
        |      round(cum::DOUBLE / rank::DOUBLE, 9)::DECIMAL(28,9) END)
        |      ::VARCHAR)::DOUBLE AS s
        |  FROM c)
        |SELECT n, n_pos, round(s / n_pos::DOUBLE, 6) AS ap
        |FROM t""".stripMargin),

    Q("q265_logrank_test",
      // Two-sample log-rank (Mantel-Cox) test: does user-key parity
      // change time-to-conversion, censoring handled — the hypothesis
      // test on q234's KM curves (a t-test on censored durations is
      // wrong). Hypergeometric O-E/V terms on the calendar grid,
      // 9-dp DECIMAL sums, χ² = (ΣO-E)²/ΣV.
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val cens = ev
          .select(unix_timestamp(date_trunc("second", col("ts"))).as("sv"))
          .agg(max(col("sv")).as("cend"))
        val u = graft.operators.Survival.viewToPurchase(ev)
          .crossJoin(broadcast(cens))
          .select(floor((coalesce(col("tp"), col("cend")) - col("t0"))
              / 86400L).cast("long").as("dur"),
            col("tp").isNotNull.as("ev"),
            (col("user_id") % 2 === 0).as("grp"))
        graft.operators.Survival.logRank(u)
      },
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch(date_trunc('second', ts))::BIGINT AS s FROM events),
        |ce AS (SELECT max(s)::BIGINT AS cend FROM ev),
        |v AS (SELECT user_id, min(s) AS t0 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |b AS (SELECT user_id, min(s) AS tp_any FROM ev
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |u AS (SELECT v.user_id, v.t0,
        |    CASE WHEN b.tp_any > v.t0 THEN b.tp_any END AS tp
        |  FROM v LEFT JOIN b USING (user_id)),
        |du AS (SELECT floor((coalesce(tp, ce.cend) - t0) / 86400.0)
        |    ::BIGINT AS dur, tp IS NOT NULL AS ev,
        |    (user_id % 2 = 0) AS grp FROM u, ce),
        |g AS (SELECT dur,
        |    sum(CASE WHEN grp AND ev THEN 1 ELSE 0 END)::BIGINT AS d1,
        |    sum(CASE WHEN (NOT grp) AND ev THEN 1 ELSE 0 END)::BIGINT
        |      AS d2,
        |    sum(CASE WHEN grp THEN 1 ELSE 0 END)::BIGINT AS a1,
        |    sum(CASE WHEN NOT grp THEN 1 ELSE 0 END)::BIGINT AS a2
        |  FROM du GROUP BY 1),
        |r AS (SELECT *,
        |    sum(a1) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW)::BIGINT AS r1,
        |    sum(a2) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW)::BIGINT AS r2
        |  FROM g),
        |f AS (SELECT * FROM r WHERE d1 + d2 > 0),
        |t AS (SELECT d1,
        |    round((d1 + d2)::DOUBLE * r1::DOUBLE / (r1 + r2)::DOUBLE, 9)
        |      ::DECIMAL(28,9) AS te,
        |    round(d1::DOUBLE - (d1 + d2)::DOUBLE * r1::DOUBLE
        |      / (r1 + r2)::DOUBLE, 9)::DECIMAL(28,9) AS tu,
        |    round(CASE WHEN r1 + r2 = 1 THEN 0.0
        |      ELSE (d1 + d2)::DOUBLE * (r1::DOUBLE / (r1 + r2)::DOUBLE)
        |        * (r2::DOUBLE / (r1 + r2)::DOUBLE)
        |        * ((r1 + r2)::DOUBLE - (d1 + d2)::DOUBLE)
        |        / ((r1 + r2)::DOUBLE - 1.0) END, 9)::DECIMAL(28,9) AS tv
        |  FROM f),
        |tt AS (SELECT sum(CASE WHEN grp THEN 1 ELSE 0 END)::BIGINT AS n_1,
        |    sum(CASE WHEN NOT grp THEN 1 ELSE 0 END)::BIGINT AS n_2
        |  FROM du),
        |ag AS (SELECT sum(d1)::BIGINT AS o1,
        |    (sum(te)::VARCHAR)::DOUBLE AS es,
        |    (sum(tu)::VARCHAR)::DOUBLE AS us,
        |    (sum(tv)::VARCHAR)::DOUBLE AS vs FROM t)
        |SELECT tt.n_1, tt.n_2, ag.o1, round(ag.es, 6) AS e1,
        |  CASE WHEN ag.vs = 0.0 THEN NULL
        |    ELSE round(ag.us * ag.us / ag.vs, 6) END AS chi2
        |FROM tt, ag""".stripMargin),

    Q("q266_peak_concurrency",
      // Peak concurrent users (sweep-line max): the capacity-planning
      // number. The classic global running sum decomposes over time
      // buckets — per-bucket delta totals give broadcast prefix
      // offsets, global running max = max over buckets of (prefix +
      // local running max) — two shuffles, no corpus-wide window;
      // expirations apply before same-instant starts so every row
      // value is a real concurrency count. Intervals = per-user
      // first→last activity spans, end-inclusive.
      (s, dir) => {
        val sec = unix_timestamp(date_trunc("second", col("ts")))
        val spans = Tables.events(s, dir)
          .select(col("user_id"), sec.as("sv"))
          .groupBy("user_id")
          .agg(min(col("sv")).as("t0"), max(col("sv")).as("t1"))
        graft.operators.Intervals.peakConcurrency(spans, "t0", "t1")
      },
      """WITH sp AS (SELECT user_id,
        |    min(epoch(date_trunc('second', ts))::BIGINT) AS t0,
        |    max(epoch(date_trunc('second', ts))::BIGINT) AS t1
        |  FROM events GROUP BY 1),
        |pt AS (SELECT t0 AS t, 1::BIGINT AS d FROM sp
        |  UNION ALL SELECT t1 + 1, (-1)::BIGINT FROM sp),
        |c AS (SELECT t, d, sum(d) OVER (ORDER BY t, d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS run FROM pt),
        |pk AS (SELECT run, t FROM c ORDER BY run DESC, t ASC LIMIT 1)
        |SELECT (SELECT count(*) FROM sp)::BIGINT AS n_intervals,
        |  pk.run AS peak, pk.t AS t_peak
        |FROM pk""".stripMargin),

    Q("q267_hits",
      // HITS hubs/authorities on the bipartite order↔part graph —
      // mutual reinforcement where PageRank's single-role walk loses
      // the two-sidedness; top-20 authority parts. Sum-normalized
      // fixed-point decimal iterations (totals DECIMAL-exact), 3
      // rounds, unrolled bit-for-bit by the oracle.
      (s, dir) => graft.operators.PageRank.hits(
        Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0)
          .select(col("l_orderkey").as("hub"), col("l_partkey").as("auth")),
        iters = 3)
        .orderBy(col("auth").desc, col("node")).limit(20),
      {
        def iter(i: Int): String = {
          val p = i - 1
          s"""ar$i AS MATERIALIZED (SELECT e.auth, sum(h.hs) AS ar
             |  FROM e JOIN h$p h USING (hub) GROUP BY 1),
             |at$i AS (SELECT sum(ar) AS t FROM ar$i),
             |a$i AS MATERIALIZED (SELECT auth,
             |    round((ar::VARCHAR)::DOUBLE / (at$i.t::VARCHAR)::DOUBLE,
             |      12)::DECIMAL(28,12) AS ascore
             |  FROM ar$i, at$i),
             |hr$i AS MATERIALIZED (SELECT e.hub, sum(a.ascore) AS hr
             |  FROM e JOIN a$i a USING (auth) GROUP BY 1),
             |ht$i AS (SELECT sum(hr) AS t FROM hr$i),
             |h$i AS MATERIALIZED (SELECT hub,
             |    round((hr::VARCHAR)::DOUBLE / (ht$i.t::VARCHAR)::DOUBLE,
             |      12)::DECIMAL(28,12) AS hs
             |  FROM hr$i, ht$i)""".stripMargin
        }
        s"""WITH e AS MATERIALIZED (SELECT DISTINCT l_orderkey AS hub,
           |    l_partkey AS auth FROM lineitem WHERE l_orderkey % 4 = 0),
           |hb AS (SELECT DISTINCT hub FROM e),
           |nh AS (SELECT count(*)::DOUBLE AS nh FROM hb),
           |h0 AS (SELECT hub, round(1.0 / nh.nh, 12)::DECIMAL(28,12)
           |    AS hs FROM hb, nh),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)}
           |SELECT auth AS node, round(ascore::DOUBLE, 9) AS auth
           |FROM a3 ORDER BY auth DESC, node LIMIT 20""".stripMargin
      }),

    Q("q268_ece",
      // Expected calibration error of the frozen quality model: the
      // ONE-NUMBER summary of q206's reliability diagram,
      // ECE = Σ (n_b/N)·|pos_rate_b − avg_p_b|. Bin rates are already
      // truncated-ppm integers, so the only float work is 10 bounded
      // products, 9-dp DECIMAL-summed. The oracle nests q206's full
      // calibration SQL (shared string — one definition, two gates).
      (s, dir) => {
        val cal = graft.pipeline.QualityClassifier.calibration(
          Tables.documents(s, dir), "text", QcWeights, QcIntercept,
          col("lang") === "en")
        val tot = broadcast(cal.agg(sum(col("n_docs")).as("bigN")))
        cal.crossJoin(tot)
          .select(col("bigN"),
            round((col("n_docs").cast("double")
                / col("bigN").cast("double"))
              * abs(col("pos_rate") - col("avg_p")), 9)
              .cast(org.apache.spark.sql.types.DecimalType(28, 9)).as("t"))
          .groupBy("bigN")
          .agg(count(lit(1)).as("n_bins"),
            sum(col("t")).cast("double").as("s"))
          .select(col("bigN").cast("long").as("n_docs"), col("n_bins"),
            round(col("s"), 6).as("ece"))
      },
      s"""WITH cal AS ($CalibrationOracleSql),
         |tt AS (SELECT sum(n_docs)::BIGINT AS bign FROM cal),
         |t AS (SELECT tt.bign,
         |    round((n_docs::DOUBLE / tt.bign::DOUBLE)
         |      * abs(pos_rate - avg_p), 9)::DECIMAL(28,9) AS t
         |  FROM cal, tt)
         |SELECT bign AS n_docs, count(*)::BIGINT AS n_bins,
         |  round((sum(t)::VARCHAR)::DOUBLE, 6) AS ece
         |FROM t GROUP BY 1""".stripMargin),

    Q("q269_mde_power",
      // Experiment power planning: the minimum detectable effect at
      // α = .05 (two-sided), power = .80 for a two-sample mean test
      // per event-type metric with arms split by user parity —
      // MDE = (z_{.975} + z_{.80})·σ̂·√(2/n_arm), n_arm = min(n_a,n_b).
      // σ̂ from exact decimal moments; the z constants are shared
      // literal text, so both engines parse identical doubles.
      (s, dir) => {
        val d = org.apache.spark.sql.types.DecimalType(18, 4)
        val m = Tables.events(s, dir)
          .select(col("event_type"), (col("user_id") % 2 === 0).as("a"),
            col("value").cast(d).as("v"))
          .groupBy("event_type", "a")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            sum(col("v") * col("v")).as("qv"))
        val wide = m.groupBy("event_type")
          .agg(max(when(col("a"), col("n"))).as("na"),
            max(when(!col("a"), col("n"))).as("nb"),
            (max(when(col("a"), col("sv")))
              + max(when(!col("a"), col("sv")))).cast("double").as("sv"),
            (max(when(col("a"), col("qv")))
              + max(when(!col("a"), col("qv")))).cast("double").as("qv"),
            (max(when(col("a"), col("n")))
              + max(when(!col("a"), col("n")))).cast("double").as("nn"))
        val variance = (col("qv") - col("sv") * col("sv") / col("nn")) /
          (col("nn") - 1.0)
        val nArm = least(col("na"), col("nb")).cast("double")
        val z = lit(1.959963985) + lit(0.841621234)
        wide.select(col("event_type"), col("na").as("n_a"),
            col("nb").as("n_b"),
            round(sqrt(variance), 6).as("sigma"),
            round(z * sqrt(variance) * sqrt(lit(2.0) / nArm), 6)
              .as("mde_abs"),
            round(z * sqrt(variance) * sqrt(lit(2.0) / nArm)
              / (col("sv") / col("nn")), 6).as("mde_rel"))
          .orderBy("event_type")
      },
      """WITH m AS (SELECT event_type, (user_id % 2 = 0) AS a,
        |    count(*)::BIGINT AS n, sum(value::DECIMAL(18,4)) AS sv,
        |    sum(value::DECIMAL(19,4) * value::DECIMAL(19,4)) AS qv
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type,
        |    max(CASE WHEN a THEN n END) AS na,
        |    max(CASE WHEN NOT a THEN n END) AS nb,
        |    ((max(CASE WHEN a THEN sv END)
        |      + max(CASE WHEN NOT a THEN sv END))::VARCHAR)::DOUBLE AS sv,
        |    ((max(CASE WHEN a THEN qv END)
        |      + max(CASE WHEN NOT a THEN qv END))::VARCHAR)::DOUBLE AS qv,
        |    (max(CASE WHEN a THEN n END)
        |      + max(CASE WHEN NOT a THEN n END))::DOUBLE AS nn
        |  FROM m GROUP BY 1)
        |SELECT event_type, na AS n_a, nb AS n_b,
        |  round(sqrt((qv - sv * sv / nn) / (nn - 1.0)), 6) AS sigma,
        |  round((1.959963985 + 0.841621234)
        |    * sqrt((qv - sv * sv / nn) / (nn - 1.0))
        |    * sqrt(2.0 / least(na, nb)::DOUBLE), 6) AS mde_abs,
        |  round((1.959963985 + 0.841621234)
        |    * sqrt((qv - sv * sv / nn) / (nn - 1.0))
        |    * sqrt(2.0 / least(na, nb)::DOUBLE) / (sv / nn), 6)
        |    AS mde_rel
        |FROM w ORDER BY event_type""".stripMargin),

    Q("q270_proportion_ztest",
      // Two-proportion z-test on the high-value-conversion RATE (did
      // the user ever purchase above 150?) between parity arms — the
      // proportion-metric companion to q147's Welch test on means
      // (plain "ever purchased" saturates at 100% in this fixture —
      // zero pooled variance, no test). Flags and arm counts are
      // integer-exact; the pooled-variance z is one identical
      // expression on the 1-row pivot.
      (s, dir) => {
        val per = Tables.events(s, dir).groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase"
            && col("value") > 150.0, 1L).otherwise(0L)).as("conv"))
          .select((col("user_id") % 2 === 0).as("a"), col("conv"))
        val m = per.groupBy("a")
          .agg(count(lit(1)).as("n"), sum(col("conv")).as("x"))
        val wide = m.groupBy()
          .agg(max(when(col("a"), col("n"))).as("n1"),
            max(when(col("a"), col("x"))).as("x1"),
            max(when(!col("a"), col("n"))).as("n2"),
            max(when(!col("a"), col("x"))).as("x2"))
        val p1 = col("x1").cast("double") / col("n1").cast("double")
        val p2 = col("x2").cast("double") / col("n2").cast("double")
        val pp = (col("x1") + col("x2")).cast("double") /
          (col("n1") + col("n2")).cast("double")
        wide.select(col("n1"), col("x1"), col("n2"), col("x2"),
          round(p1, 6).as("p1"), round(p2, 6).as("p2"),
          round((p1 - p2) / sqrt(pp * (lit(1.0) - pp)
            * (lit(1.0) / col("n1").cast("double")
              + lit(1.0) / col("n2").cast("double"))), 6).as("z"))
      },
      """WITH per AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 150.0
        |      THEN 1 ELSE 0 END)::BIGINT AS conv
        |  FROM events GROUP BY 1),
        |m AS (SELECT (user_id % 2 = 0) AS a, count(*)::BIGINT AS n,
        |    sum(conv)::BIGINT AS x FROM per GROUP BY 1),
        |w AS (SELECT max(CASE WHEN a THEN n END) AS n1,
        |    max(CASE WHEN a THEN x END) AS x1,
        |    max(CASE WHEN NOT a THEN n END) AS n2,
        |    max(CASE WHEN NOT a THEN x END) AS x2 FROM m)
        |SELECT n1, x1, n2, x2,
        |  round(x1::DOUBLE / n1::DOUBLE, 6) AS p1,
        |  round(x2::DOUBLE / n2::DOUBLE, 6) AS p2,
        |  round((x1::DOUBLE / n1::DOUBLE - x2::DOUBLE / n2::DOUBLE)
        |    / sqrt((x1 + x2)::DOUBLE / (n1 + n2)::DOUBLE
        |      * (1.0 - (x1 + x2)::DOUBLE / (n1 + n2)::DOUBLE)
        |      * (1.0 / n1::DOUBLE + 1.0 / n2::DOUBLE)), 6) AS z
        |FROM w""".stripMargin),

    Q("q271_modularity",
      // Newman-Girvan modularity of q231's label-propagation
      // communities on the co-purchase graph — the "does this
      // partition mean anything?" score (Q ≳ 0.3 = real structure).
      // Intra-edge and degree sums are integer-exact per community;
      // per-community terms 9-dp DECIMAL-summed.
      (s, dir) => {
        // shared edge build: LPA and modularity both consume it — one
        // lazy checkpoint instead of two independent rebuilds
        val edges = graft.operators.Ckpt(graft.operators.Graph.basketEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
          "l_orderkey", "l_partkey"), eager = false)
        graft.operators.Graph.modularity(edges,
          graft.operators.Graph.labelPropagationAssignments(edges,
            rounds = 4))
      },
      {
        val rounds = (1 to 4).map { i =>
          s"""c$i AS (SELECT nb.v, l.label, count(*) AS cnt
             |  FROM nb JOIN l${i - 1} l ON nb.n = l.v GROUP BY 1, 2),
             |l$i AS MATERIALIZED (SELECT v, label FROM (
             |    SELECT v, label, row_number() OVER (PARTITION BY v
             |      ORDER BY cnt DESC, label) AS rn FROM c$i)
             |  WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH $GraphEdgeCtes,
           |nb AS MATERIALIZED (SELECT a AS v, b AS n FROM e0
           |  UNION ALL SELECT b AS v, a AS n FROM e0),
           |l0 AS MATERIALIZED (SELECT DISTINCT v, v AS label FROM nb),
           |$rounds,
           |wl AS MATERIALIZED (SELECT e0.a, e0.b, la.label AS la,
           |    lb.label AS lb
           |  FROM e0 JOIN l4 la ON e0.a = la.v JOIN l4 lb ON e0.b = lb.v),
           |m AS (SELECT count(*)::BIGINT AS m FROM e0),
           |intra AS (SELECT la AS label, count(*)::BIGINT AS mc FROM wl
           |  WHERE la = lb GROUP BY 1),
           |deg AS (SELECT label, count(*)::BIGINT AS dc FROM (
           |    SELECT la AS label FROM wl UNION ALL SELECT lb FROM wl)
           |  GROUP BY 1),
           |t AS (SELECT m.m,
           |    round(coalesce(intra.mc, 0)::DOUBLE / m.m::DOUBLE
           |      - (deg.dc::DOUBLE / (2.0 * m.m::DOUBLE))
           |        * (deg.dc::DOUBLE / (2.0 * m.m::DOUBLE)), 9)
           |      ::DECIMAL(28,9) AS t
           |  FROM deg LEFT JOIN intra USING (label), m)
           |SELECT m AS n_edges, count(*)::BIGINT AS n_communities,
           |  round((sum(t)::VARCHAR)::DOUBLE, 6) AS modularity
           |FROM t GROUP BY 1""".stripMargin
      }),

    Q("q272_anova_f",
      // One-way ANOVA F across ALL event types ([[graft.operators
      // .AbTest.anovaF]]) — the k-arm generalization of q147's
      // two-arm Welch. One partial-agg scan to exact per-group decimal
      // moments; the k-fold cross-group float sums (Σ S_g²/n_g etc.)
      // are 6-dp DECIMAL-summed so they have no association order;
      // decimal→double casts are varchar-mediated in the oracle (the
      // round-6 int128 discipline).
      (s, dir) => graft.operators.AbTest.anovaF(
        Tables.events(s, dir), "event_type", "value"),
      """WITH m AS (SELECT event_type, count(*)::BIGINT AS nn,
        |    (sum(value::DECIMAL(18,4))::VARCHAR)::DOUBLE AS s,
        |    (sum(value::DECIMAL(18,4) * value::DECIMAL(18,4))
        |      ::VARCHAR)::DOUBLE AS q
        |  FROM events GROUP BY 1),
        |t AS (SELECT nn,
        |    round(s, 6)::DECIMAL(38,6) AS sd,
        |    round(s * s / nn::DOUBLE, 6)::DECIMAL(38,6) AS tt,
        |    round(q, 6)::DECIMAL(38,6) AS qd
        |  FROM m),
        |a AS (SELECT count(*)::BIGINT AS k, sum(nn)::BIGINT AS n,
        |    (sum(sd)::VARCHAR)::DOUBLE AS s,
        |    (sum(qd)::VARCHAR)::DOUBLE AS q,
        |    (sum(tt)::VARCHAR)::DOUBLE AS ssb_part
        |  FROM t)
        |SELECT k, n,
        |  round(((ssb_part - s * s / n::DOUBLE) / (k::DOUBLE - 1.0))
        |    / ((q - ssb_part) / (n::DOUBLE - k::DOUBLE)), 6) AS f_stat,
        |  (k - 1)::BIGINT AS df1, (n - k)::BIGINT AS df2
        |FROM a""".stripMargin),

    Q("q273_kruskal_wallis",
      // Tie-corrected Kruskal-Wallis H across all event types
      // ([[graft.operators.Ranks.kruskalWallis]]) — the k-group rank
      // ANOVA beside q216's two-group U. Engine: value-level grid +
      // bucketed prefix (no corpus window); oracle: the plain global
      // window. Per-group R_g²/n_g terms are bit-identical doubles,
      // 6-dp DECIMAL-summed.
      (s, dir) => graft.operators.Ranks.kruskalWallis(
        Tables.events(s, dir), "value", "event_type"),
      """WITH src AS (SELECT event_type AS g, value::DOUBLE AS v
        |  FROM events),
        |rn AS (SELECT g, v, row_number() OVER (ORDER BY v) AS r
        |  FROM src),
        |ranked AS (SELECT g, v, avg(r) OVER (PARTITION BY v)
        |    AS avg_rank FROM rn),
        |ties AS (SELECT sum(n_v * n_v * n_v - n_v)::DOUBLE AS tie3
        |  FROM (SELECT count(*)::DOUBLE AS n_v FROM src GROUP BY v)),
        |pg AS (SELECT g, count(*)::BIGINT AS n_g, sum(avg_rank) AS r_g
        |  FROM ranked GROUP BY g),
        |t AS (SELECT n_g,
        |    round(r_g * r_g / n_g::DOUBLE, 6)::DECIMAL(38,6) AS tt
        |  FROM pg),
        |a AS (SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
        |    (sum(tt)::VARCHAR)::DOUBLE AS rr FROM t)
        |SELECT k, n,
        |  round((12.0 / (n::DOUBLE * (n::DOUBLE + 1.0)) * rr
        |      - 3.0 * (n::DOUBLE + 1.0))
        |    / (1.0 - tie3
        |      / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)), 6)
        |    AS h
        |FROM a, ties""".stripMargin),

    Q("q274_kendall_tau",
      // Kendall's tau-b between quantity and discount ([[graft
      // .operators.Dependence.kendallTau]]): concordant/discordant
      // pairs counted on the JOINT VALUE GRID (50×11 cells — one
      // corpus groupBy, then a metadata-sized grid self-join), all in
      // exact integer arithmetic; only tau's final ratio is float.
      (s, dir) => graft.operators.Dependence.kendallTau(
        Tables.lineitem(s, dir), "l_quantity", "l_discount"),
      """WITH cells AS (SELECT l_quantity::DOUBLE AS x,
        |    l_discount::DOUBLE AS y, count(*)::BIGINT AS c
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (SELECT
        |    sum(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END)
        |      ::BIGINT AS nc,
        |    sum(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END)
        |      ::BIGINT AS nd
        |  FROM cells a JOIN cells b ON a.x < b.x),
        |tx AS (SELECT sum(t * (t - 1) // 2)::BIGINT AS n1
        |  FROM (SELECT sum(c)::BIGINT AS t FROM cells GROUP BY x)),
        |ty AS (SELECT sum(t * (t - 1) // 2)::BIGINT AS n2
        |  FROM (SELECT sum(c)::BIGINT AS t FROM cells GROUP BY y)),
        |nn AS (SELECT sum(c)::BIGINT AS n FROM cells)
        |SELECT n, nc, nd,
        |  round((nc - nd)::DOUBLE / sqrt(
        |    (n::DOUBLE * (n::DOUBLE - 1.0) / 2.0 - n1::DOUBLE)
        |    * (n::DOUBLE * (n::DOUBLE - 1.0) / 2.0 - n2::DOUBLE)), 6)
        |    AS tau_b
        |FROM p, tx, ty, nn""".stripMargin),

    Q("q275_ridge_regression",
      // Ridge regression price ~ 1 + quantity + discount at λ=1000
      // ([[graft.operators.Regression.ridge2]]): q220's single moment
      // scan and Cramer solve with λ on the slope diagonal — the
      // collinearity-proof variant. Formula text mirrored verbatim.
      (s, dir) => graft.operators.Regression.ridge2(
        Tables.lineitem(s, dir),
        "l_extendedprice", "l_quantity", "l_discount", 1000.0),
      """WITH m AS (SELECT count(*)::DOUBLE AS n,
        |    sum(l_quantity::DECIMAL(19,4))::DOUBLE AS s1,
        |    sum(l_discount::DECIMAL(19,4))::DOUBLE AS s2,
        |    sum(l_quantity::DECIMAL(19,4) * l_quantity::DECIMAL(19,4))::DOUBLE + 1000.0 AS s11,
        |    sum(l_quantity::DECIMAL(19,4) * l_discount::DECIMAL(19,4))::DOUBLE AS s12,
        |    sum(l_discount::DECIMAL(19,4) * l_discount::DECIMAL(19,4))::DOUBLE + 1000.0 AS s22,
        |    sum(l_extendedprice::DECIMAL(19,4))::DOUBLE AS sy,
        |    sum(l_quantity::DECIMAL(19,4) * l_extendedprice::DECIMAL(19,4))::DOUBLE AS s1y,
        |    sum(l_discount::DECIMAL(19,4) * l_extendedprice::DECIMAL(19,4))::DOUBLE AS s2y
        |  FROM lineitem),
        |d AS (SELECT *,
        |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2) AS det,
        |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
        |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s2y - s1y * s2) AS det1,
        |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |      + sy * (s1 * s12 - s11 * s2) AS det2
        |  FROM m)
        |SELECT n::BIGINT AS n, 1000.0::DOUBLE AS lambda,
        |  round(det0 / det, 6) AS b0,
        |  round(det1 / det, 6) AS b1,
        |  round(det2 / det, 6) AS b2
        |FROM d""".stripMargin),

    Q("q276_isotonic_calibration",
      // Isotonic (PAV) recalibration of q206's reliability table
      // ([[graft.operators.Isotonic.pavPpm]]): the monotone fit via
      // the minimax identity max_{j<=i} min_{k>=i} rate(j..k) — a
      // bin-grid self-join, no sequential merge loop, all rates
      // integer-ppm so min/max comparisons are exact. The oracle
      // nests q206's shared calibration SQL.
      (s, dir) => {
        val cal = graft.pipeline.QualityClassifier.calibration(
          Tables.documents(s, dir), "text", QcWeights, QcIntercept,
          col("lang") === "en")
        graft.operators.Isotonic.pavPpm(
          cal.select(col("bin"), col("n_docs").as("n"),
            col("n_pos").as("pos")))
      },
      s"""WITH cal AS ($CalibrationOracleSql),
         |t AS (SELECT bin::BIGINT AS bin, n_docs::BIGINT AS n,
         |    n_pos::BIGINT AS pos FROM cal),
         |ranges AS (SELECT j.bin AS j, k.bin AS k,
         |    (sum(x.pos) * 1000000) // sum(x.n) AS rate_ppm
         |  FROM t j JOIN t k ON j.bin <= k.bin
         |  JOIN t x ON x.bin >= j.bin AND x.bin <= k.bin
         |  GROUP BY 1, 2),
         |mn AS (SELECT t.bin AS i, r.j, min(r.rate_ppm) AS mn
         |  FROM t JOIN ranges r ON r.j <= t.bin AND r.k >= t.bin
         |  GROUP BY 1, 2),
         |fit AS (SELECT i, max(mn)::BIGINT AS iso_rate_ppm FROM mn
         |  GROUP BY 1)
         |SELECT t.bin, t.n, t.pos,
         |  ((t.pos * 1000000) // t.n)::BIGINT AS raw_rate_ppm,
         |  fit.iso_rate_ppm
         |FROM t JOIN fit ON t.bin = fit.i ORDER BY t.bin""".stripMargin),

    Q("q277_ewma_control",
      // EWMA control chart (alpha = 1/2, l = 2 sigma) on daily order
      // revenue ([[graft.operators.TimeSeries.ewmaControl]]): the
      // floor-halving recurrence runs in exact integer CENTS, so the
      // oracle's recursive CTE replays the sequential state
      // bit-for-bit; sigma comes from exact integer moments through
      // one identical double expression. The corpus pass is the one
      // partial-agg groupBy(day); the recurrence is calendar-bounded.
      (s, dir) => graft.operators.TimeSeries.ewmaControl(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice", l = 2.0),
      """WITH RECURSIVE daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS d,
        |    (sum(o_totalprice::DECIMAL(18,2)) * 100)::BIGINT AS u
        |  FROM orders GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS n, sum(u)::BIGINT AS s,
        |    (sum(u::DECIMAL(38,0) * u)::VARCHAR)::DOUBLE AS q
        |  FROM daily),
        |sg AS (SELECT sqrt((q - s::DOUBLE * s::DOUBLE / n::DOUBLE)
        |    / (n::DOUBLE - 1.0)) AS sigma FROM st),
        |idx AS (SELECT d, u, row_number() OVER (ORDER BY d) AS i
        |  FROM daily),
        |rec AS (
        |  SELECT i, d, u, u AS e FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.i, idx.d, idx.u, (idx.u + rec.e) // 2
        |  FROM idx JOIN rec ON idx.i = rec.i + 1),
        |al AS (SELECT r.d, r.u, r.e,
        |    CASE WHEN r.i = 1 THEN false
        |         ELSE abs(r.u - p.e)::DOUBLE > 2.0 * sg.sigma END
        |      AS alarm
        |  FROM rec r LEFT JOIN rec p ON p.i = r.i - 1, sg)
        |SELECT d::TIMESTAMP AS d, u::DOUBLE / 100.0 AS revenue,
        |  e::DOUBLE / 100.0 AS ewma, alarm
        |FROM al ORDER BY d""".stripMargin),

    Q("q278_bfs_reach",
      // Multi-source BFS hop histogram from the co-purchase graph's
      // minimum vertex ([[graft.operators.Graph.bfsHopHistogram]]):
      // frontier expansion — each round touches only the frontier ×
      // adjacency, never the vertex set; all math set-membership.
      // The oracle unrolls 4 frontier rounds over the shared edge CTEs.
      (s, dir) => {
        val edges = graft.operators.Graph.basketEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
          "l_orderkey", "l_partkey").localCheckpoint(true)
        graft.operators.Graph.bfsHopHistogram(edges,
          edges.agg(min(col("a")).as("v")), maxHops = 4)
      },
      s"""WITH $GraphEdgeCtes,
         |nb AS MATERIALIZED (SELECT a AS v, b AS n FROM e0
         |  UNION ALL SELECT b AS v, a AS n FROM e0),
         |v0 AS MATERIALIZED (SELECT min(a) AS v, 0 AS dist FROM e0),
         |f1 AS MATERIALIZED (SELECT DISTINCT nb.n AS v FROM nb
         |  JOIN v0 ON nb.v = v0.v
         |  WHERE nb.n NOT IN (SELECT v FROM v0)),
         |v1 AS MATERIALIZED (SELECT v, dist FROM v0
         |  UNION ALL SELECT v, 1 FROM f1),
         |f2 AS MATERIALIZED (SELECT DISTINCT nb.n AS v FROM nb
         |  JOIN f1 ON nb.v = f1.v
         |  WHERE nb.n NOT IN (SELECT v FROM v1)),
         |v2 AS MATERIALIZED (SELECT v, dist FROM v1
         |  UNION ALL SELECT v, 2 FROM f2),
         |f3 AS MATERIALIZED (SELECT DISTINCT nb.n AS v FROM nb
         |  JOIN f2 ON nb.v = f2.v
         |  WHERE nb.n NOT IN (SELECT v FROM v2)),
         |v3 AS MATERIALIZED (SELECT v, dist FROM v2
         |  UNION ALL SELECT v, 3 FROM f3),
         |f4 AS MATERIALIZED (SELECT DISTINCT nb.n AS v FROM nb
         |  JOIN f3 ON nb.v = f3.v
         |  WHERE nb.n NOT IN (SELECT v FROM v3)),
         |v4 AS (SELECT v, dist FROM v3
         |  UNION ALL SELECT v, 4 FROM f4)
         |SELECT dist, count(*)::BIGINT AS n_vertices
         |FROM v4 GROUP BY 1 ORDER BY 1""".stripMargin),

    Q("q279_abc_classes",
      // ABC/Pareto inventory classes of parts by lineitem revenue
      // ([[graft.operators.Customer.abcClasses]], 800/950 permille):
      // global revenue rank via the bucketed row-number machinery,
      // cumulative revenue on rank blocks of 64 (no corpus window),
      // class boundaries compared in exact DECIMAL. The oracle pays
      // the global window the engine avoids.
      (s, dir) => graft.operators.Customer.abcClasses(
        Tables.lineitem(s, dir), "l_partkey", "l_extendedprice"),
      """WITH pe AS (SELECT l_partkey AS id,
        |    sum(l_extendedprice::DECIMAL(18,4)) AS rev
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(rev) AS t FROM pe),
        |rk AS (SELECT id, rev,
        |    row_number() OVER (ORDER BY rev DESC, id) AS r FROM pe),
        |cum AS (SELECT id, rev, sum(rev) OVER (ORDER BY r
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rk),
        |cl AS (SELECT CASE WHEN cum * 1000 <= t * 800 THEN 'A'
        |    WHEN cum * 1000 <= t * 950 THEN 'B' ELSE 'C' END
        |      AS abc_class, rev
        |  FROM cum, tot)
        |SELECT abc_class, count(*)::BIGINT AS n_entities,
        |  round((sum(rev)::VARCHAR)::DOUBLE, 2) AS revenue,
        |  (((sum(rev) * 100)::HUGEINT * 1000000)
        |    // (SELECT (t * 100)::HUGEINT FROM tot))::BIGINT
        |    AS share_ppm
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin),

    Q("q280_cmh_test",
      // Cochran-Mantel-Haenszel: does the parity arm move high-value
      // conversion CONTROLLING for user activity level
      // ([[graft.operators.Causal.cmhTest]])? Strata = events-per-user
      // buckets; all counts integer; per-stratum E and V are identical
      // doubles 9-dp DECIMAL-summed. The stratified companion to
      // q270's pooled z.
      (s, dir) => {
        val per = Tables.events(s, dir).groupBy("user_id")
          .agg(count(lit(1)).as("n_ev"),
            max(when(col("event_type") === "purchase"
              && col("value") > 150.0, 1L).otherwise(0L)).as("conv"))
          .select(col("user_id"),
            expr("least(n_ev div 10, 3)").as("stratum"), col("conv"))
        graft.operators.Causal.cmhTest(per, "stratum",
          col("user_id") % 2 === 0, col("conv") === 1L)
      },
      """WITH per AS (SELECT user_id, count(*)::BIGINT AS n_ev,
        |    max(CASE WHEN event_type = 'purchase' AND value > 150.0
        |      THEN 1 ELSE 0 END)::BIGINT AS conv
        |  FROM events GROUP BY 1),
        |cells AS (SELECT least(n_ev // 10, 3)::VARCHAR AS stratum,
        |    count(*)::BIGINT AS n,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS n1,
        |    sum(conv)::BIGINT AS m1,
        |    sum(CASE WHEN user_id % 2 = 0 AND conv = 1 THEN 1
        |      ELSE 0 END)::BIGINT AS a
        |  FROM per GROUP BY 1),
        |t AS (SELECT n,
        |    CASE WHEN n > 1 AND n1 > 0 AND n1 < n AND m1 > 0
        |      AND m1 < n THEN a ELSE 0 END AS ta,
        |    CASE WHEN n > 1 AND n1 > 0 AND n1 < n AND m1 > 0
        |      AND m1 < n THEN round(n1::DOUBLE * m1::DOUBLE
        |        / n::DOUBLE, 9) ELSE 0.0 END::DECIMAL(28,9) AS te,
        |    CASE WHEN n > 1 AND n1 > 0 AND n1 < n AND m1 > 0
        |      AND m1 < n THEN round(n1::DOUBLE
        |        * (n - n1)::DOUBLE * m1::DOUBLE * (n - m1)::DOUBLE
        |        / (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0)), 9)
        |      ELSE 0.0 END::DECIMAL(28,9) AS tv
        |  FROM cells),
        |a AS (SELECT count(*)::BIGINT AS k_strata, sum(n)::BIGINT AS n,
        |    sum(ta)::BIGINT AS sum_a,
        |    (sum(te)::VARCHAR)::DOUBLE AS se,
        |    (sum(tv)::VARCHAR)::DOUBLE AS sv
        |  FROM t)
        |SELECT k_strata, n, sum_a, round(se, 6) AS sum_e,
        |  round((sum_a::DOUBLE - se) * (sum_a::DOUBLE - se) / sv, 6)
        |    AS cmh
        |FROM a""".stripMargin),

    Q("q281_pacf",
      // Partial autocorrelation of daily revenue at lags 1-3
      // ([[graft.operators.TimeSeries.pacfDaily]]): Durbin-Levinson
      // closed forms over the 6-dp-ROUNDED acf values, so both
      // engines feed bit-identical inputs to mirrored rational
      // formulas. No new corpus work beyond q235's scan.
      (s, dir) => graft.operators.TimeSeries.pacfDaily(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice"),
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS d,
        |    sum(o_totalprice::DECIMAL(18,4)) AS x
        |  FROM orders GROUP BY 1),
        |st AS (SELECT count(*)::DOUBLE AS n,
        |    (sum(x)::VARCHAR)::DOUBLE AS sx FROM daily),
        |c AS (SELECT d, x::DOUBLE - (st.sx / st.n) AS c FROM daily, st),
        |dn AS (SELECT (sum(round(c * c, 0)::DECIMAL(28,0))::VARCHAR)::DOUBLE
        |    AS den FROM c),
        |p AS (SELECT t.lag, count(*)::BIGINT AS n_pairs,
        |    (sum(round(a.c * b.c, 0)::DECIMAL(28,0))::VARCHAR)::DOUBLE AS num
        |  FROM generate_series(1, 3) AS t(lag)
        |  JOIN c a ON true
        |  JOIN c b ON b.d = a.d + t.lag * INTERVAL 1 DAY
        |  GROUP BY 1),
        |acfq AS (SELECT p.lag, round(p.num / dn.den, 6) AS acf
        |  FROM p, dn),
        |r AS (SELECT max(CASE WHEN lag = 1 THEN acf END) AS r1,
        |    max(CASE WHEN lag = 2 THEN acf END) AS r2,
        |    max(CASE WHEN lag = 3 THEN acf END) AS r3 FROM acfq),
        |d2 AS (SELECT r1, r2, r3,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2 FROM r),
        |d3 AS (SELECT r1, r2, r3, p2, r1 - p2 * r1 AS a21 FROM d2)
        |SELECT round(r1, 6) AS pacf1, round(p2, 6) AS pacf2,
        |  round((r3 - a21 * r2 - p2 * r1)
        |    / (1.0 - a21 * r1 - p2 * r2), 6) AS pacf3
        |FROM d3""".stripMargin),

    Q("q282_brown_forsythe",
      // Brown-Forsythe variance-homogeneity test across event types
      // ([[graft.operators.AbTest.brownForsythe]]): ANOVA on absolute
      // deviations from the exact group medians (the q223 grid) — the
      // gate before trusting q147/q272's pooled-variance readouts.
      (s, dir) => graft.operators.AbTest.brownForsythe(
        Tables.events(s, dir), "event_type", "value"),
      """WITH med AS (SELECT event_type, quantile_disc(value, 0.5) AS m
        |  FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type AS g,
        |    abs(e.value::DOUBLE - med.m) AS z
        |  FROM events e JOIN med USING (event_type)),
        |m AS (SELECT g, count(*)::BIGINT AS nn,
        |    (sum(z::DECIMAL(18,4))::VARCHAR)::DOUBLE AS s,
        |    (sum(z::DECIMAL(18,4) * z::DECIMAL(18,4))
        |      ::VARCHAR)::DOUBLE AS q
        |  FROM dev GROUP BY 1),
        |t AS (SELECT nn,
        |    round(s, 6)::DECIMAL(38,6) AS sd,
        |    round(s * s / nn::DOUBLE, 6)::DECIMAL(38,6) AS tt,
        |    round(q, 6)::DECIMAL(38,6) AS qd
        |  FROM m),
        |a AS (SELECT count(*)::BIGINT AS k, sum(nn)::BIGINT AS n,
        |    (sum(sd)::VARCHAR)::DOUBLE AS s,
        |    (sum(qd)::VARCHAR)::DOUBLE AS q,
        |    (sum(tt)::VARCHAR)::DOUBLE AS ssb_part
        |  FROM t)
        |SELECT k, n,
        |  round(((ssb_part - s * s / n::DOUBLE) / (k::DOUBLE - 1.0))
        |    / ((q - ssb_part) / (n::DOUBLE - k::DOUBLE)), 6) AS f_stat,
        |  (k - 1)::BIGINT AS df1, (n - k)::BIGINT AS df2
        |FROM a""".stripMargin),

    Q("q283_holt_backtest",
      // Holt linear-trend one-step backtest vs naive carryover
      // ([[graft.operators.TimeSeries.holtBacktest]]): the two-state
      // (level, trend) recurrence runs in exact integer cents with
      // TRUNCATING halving (Java long `/` ≡ DuckDB `//`), so the
      // oracle's recursive CTE replays both states bit-for-bit;
      // MAE/RMSE from exact integer error sums (squares in DECIMAL).
      (s, dir) => graft.operators.TimeSeries.holtBacktest(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice"),
      """WITH RECURSIVE daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS d,
        |    (sum(o_totalprice::DECIMAL(18,2)) * 100)::BIGINT AS u
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT u, row_number() OVER (ORDER BY d) AS i
        |  FROM daily),
        |rec AS (
        |  SELECT i, u, u AS l, 0::BIGINT AS b, NULL::BIGINT AS f
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.i, idx.u,
        |    (idx.u + (rec.l + rec.b)) // 2,
        |    (rec.b + ((idx.u + (rec.l + rec.b)) // 2 - rec.l)) // 2,
        |    rec.l + rec.b
        |  FROM idx JOIN rec ON idx.i = rec.i + 1),
        |err AS (SELECT r.i, r.u - r.f AS eh, r.u - p.u AS en
        |  FROM rec r JOIN rec p ON p.i = r.i - 1),
        |a AS (SELECT 'holt' AS model, count(*)::BIGINT AS n_days,
        |    sum(abs(eh))::BIGINT AS sa,
        |    sum(eh::DECIMAL(38,0) * eh) AS ss FROM err
        |  UNION ALL
        |  SELECT 'naive1', count(*)::BIGINT, sum(abs(en))::BIGINT,
        |    sum(en::DECIMAL(38,0) * en) FROM err)
        |SELECT model, n_days,
        |  round(sa::DOUBLE / 100.0 / n_days::DOUBLE, 6) AS mae,
        |  round(sqrt((ss::VARCHAR)::DOUBLE / 10000.0
        |    / n_days::DOUBLE), 6) AS rmse
        |FROM a ORDER BY model""".stripMargin),

    Q("q284_bollinger",
      // Bollinger bands on daily revenue ([[graft.operators
      // .TimeSeries.bollingerDaily]]): trailing 7-day mean ± 2σ with
      // breach flags. Rolling count/Σx/Σx² are DECIMAL window sums
      // over the CALENDAR grid (exact in any order); band math is one
      // identical double expression per row; decimal→double casts
      // varchar-mediated in the oracle (Σx² passes 2^53 at sf0.1).
      (s, dir) => graft.operators.TimeSeries.bollingerDaily(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice"),
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS d,
        |    sum(o_totalprice::DECIMAL(18,2)) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT d, x,
        |    count(*) OVER w AS n7,
        |    sum(x) OVER w AS s7,
        |    sum(x * x) OVER w AS q7
        |  FROM daily WINDOW w AS (ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |f AS (SELECT d, x::DOUBLE AS revenue,
        |    (s7::VARCHAR)::DOUBLE AS s, (q7::VARCHAR)::DOUBLE AS q
        |  FROM r WHERE n7 = 7)
        |SELECT d::TIMESTAMP AS d, revenue,
        |  round(s / 7.0, 6) AS ma7,
        |  round(sqrt((q - s * s / 7.0) / 6.0), 6) AS sd7,
        |  (revenue > s / 7.0 + 2.0 * sqrt((q - s * s / 7.0) / 6.0)
        |   OR revenue < s / 7.0 - 2.0 * sqrt((q - s * s / 7.0) / 6.0))
        |    AS breach
        |FROM f ORDER BY d""".stripMargin),

    Q("q285_nelson_aalen",
      // Nelson-Aalen cumulative hazard for first-view→first-purchase
      // ([[graft.operators.Survival.nelsonAalenDaily]]): the additive
      // companion to q234's KM product — same unit reduction, same
      // calendar-bounded risk grid; per-day hazard terms are identical
      // doubles 9-dp DECIMAL-summed, so the cumulative sum is
      // associativity-free.
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val cens = ev
          .select(unix_timestamp(date_trunc("second", col("ts"))).as("s"))
          .agg(max(col("s")).as("cend"))
        graft.operators.Survival.nelsonAalenDaily(
          graft.operators.Survival.viewToPurchase(ev)
            .crossJoin(broadcast(cens)),
          "t0", "tp", col("cend"))
      },
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch(date_trunc('second', ts))::BIGINT AS s FROM events),
        |ce AS (SELECT max(s)::BIGINT AS cend FROM ev),
        |v AS (SELECT user_id, min(s) AS t0 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |b AS (SELECT user_id, min(s) AS tp_any FROM ev
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |u AS (SELECT v.t0,
        |    CASE WHEN b.tp_any > v.t0 THEN b.tp_any END AS tp
        |  FROM v LEFT JOIN b USING (user_id)),
        |du AS (SELECT floor((coalesce(tp, ce.cend) - t0) / 86400.0)::BIGINT
        |    AS dur, tp IS NOT NULL AS ev FROM u, ce),
        |g AS (SELECT dur,
        |    sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS n_event,
        |    count(*)::BIGINT AS n_at FROM du GROUP BY dur),
        |r AS (SELECT dur, n_event, sum(n_at) OVER (ORDER BY dur DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS n_risk FROM g),
        |f AS (SELECT dur, n_risk, n_event,
        |    round(n_event::DOUBLE / n_risk::DOUBLE, 9)::DECIMAL(28,9)
        |      AS t
        |  FROM r WHERE n_event > 0)
        |SELECT dur AS d, n_risk, n_event,
        |  round((sum(t) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW)::VARCHAR)::DOUBLE, 6)
        |    AS cum_hazard
        |FROM f ORDER BY d""".stripMargin),

    Q("q286_mcnemar",
      // McNemar's paired test on the two weak labelers' FIRING
      // patterns ([[graft.pipeline.WeakLabels.mcnemar]]): q218's kappa
      // says whether they agree; this says whether the DISAGREEMENT is
      // biased (one labeler systematically stricter) — the
      // model-upgrade gate for paired evals. Exact integer discordant
      // cells, one float division.
      (s, dir) => {
        val lfs = graft.pipeline.WeakLabels.defaultLfs(col("text")).toMap
        graft.pipeline.WeakLabels.mcnemar(
          Tables.documents(s, dir),
          lfs("lf_len").cast("int"), lfs("lf_stop").cast("int"))
      },
      """WITH lf AS (
        |  SELECT
        |    CASE WHEN length(text) >= 150 THEN 1
        |         WHEN length(text) < 30 THEN -1 ELSE 0 END AS la,
        |    CASE WHEN position(' the ' IN lower(text)) > 0
        |           OR position(' and ' IN lower(text)) > 0 THEN 1
        |         ELSE 0 END AS lb
        |  FROM documents)
        |SELECT count(*)::BIGINT AS n,
        |  sum(CASE WHEN la <> 0 AND lb = 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS b,
        |  sum(CASE WHEN la = 0 AND lb <> 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS c,
        |  CASE WHEN sum(CASE WHEN la <> 0 AND lb = 0 THEN 1 ELSE 0 END)
        |      + sum(CASE WHEN la = 0 AND lb <> 0 THEN 1 ELSE 0 END) = 0
        |    THEN NULL
        |    ELSE round(
        |      (sum(CASE WHEN la <> 0 AND lb = 0 THEN 1 ELSE 0 END)
        |        - sum(CASE WHEN la = 0 AND lb <> 0 THEN 1 ELSE 0 END))
        |        ::DOUBLE
        |      * (sum(CASE WHEN la <> 0 AND lb = 0 THEN 1 ELSE 0 END)
        |        - sum(CASE WHEN la = 0 AND lb <> 0 THEN 1 ELSE 0 END))
        |        ::DOUBLE
        |      / (sum(CASE WHEN la <> 0 AND lb = 0 THEN 1 ELSE 0 END)
        |        + sum(CASE WHEN la = 0 AND lb <> 0 THEN 1 ELSE 0 END))
        |        ::DOUBLE, 6) END AS chi2
        |FROM lf""".stripMargin),

    Q("q287_ipw_ate",
      // IPW ATE with a MODELED propensity ([[graft.operators.Causal
      // .ipwAte]]): effect of having clicked on purchase revenue,
      // deconfounded by activity (views/errors, binary-exact /128
      // scales — the q262 discipline). The propensity model is q262's
      // engine-exact IRLS (3 unrolled iterations in the oracle, 6-dp
      // rounded weights as the frozen model); Horvitz–Thompson terms
      // are identical doubles 6-dp DECIMAL-summed. Completes the
      // causal ladder: naive → exact strata (q237) → modeled e(x).
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val per = Tables.events(s, dir).groupBy("user_id").agg(
          max(when(col("event_type") === "click", 1.0).otherwise(0.0))
            .as("t"),
          coalesce(sum(when(col("event_type") === "purchase",
              col("value").cast(DecimalType(18, 4)))).cast("double"),
            lit(0.0)).as("y"),
          (sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .cast("double") / lit(128.0)).as("x1"),
          (sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .cast("double") / lit(128.0)).as("x2"))
        graft.operators.Causal.ipwAte(per, "t", "y", "x1", "x2")
      },
      {
        def t7(e: String) =
          s"(sum(round($e, 7)::DECIMAL(28,9))::VARCHAR)::DOUBLE"
        def iter(i: Int): String = {
          val p = i - 1
          s"""m$i AS (SELECT
             |    ${t7("s")} AS a00, ${t7("s * x1")} AS a01,
             |    ${t7("s * x2")} AS a02, ${t7("s * x1 * x1")} AS a11,
             |    ${t7("s * x1 * x2")} AS a12, ${t7("s * x2 * x2")} AS a22,
             |    ${t7("s * eta + (y - mu)")} AS b0,
             |    ${t7("x1 * (s * eta + (y - mu))")} AS b1,
             |    ${t7("x2 * (s * eta + (y - mu))")} AS b2
             |  FROM (SELECT y, x1, x2, eta, mu, mu * (1.0 - mu) AS s
             |    FROM (SELECT f.y, f.x1, f.x2,
             |        w.w0 + w.w1 * f.x1 + w.w2 * f.x2 AS eta,
             |        1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x1
             |          + w.w2 * f.x2))) AS mu
             |      FROM f, w$p w))),
             |w$i AS (SELECT
             |    (b0 * (a11 * a22 - a12 * a12)
             |      - a01 * (b1 * a22 - a12 * b2)
             |      + a02 * (b1 * a12 - a11 * b2))
             |    / (a00 * (a11 * a22 - a12 * a12)
             |      - a01 * (a01 * a22 - a12 * a02)
             |      + a02 * (a01 * a12 - a11 * a02)) AS w0,
             |    (a00 * (b1 * a22 - a12 * b2)
             |      - b0 * (a01 * a22 - a12 * a02)
             |      + a02 * (a01 * b2 - b1 * a02))
             |    / (a00 * (a11 * a22 - a12 * a12)
             |      - a01 * (a01 * a22 - a12 * a02)
             |      + a02 * (a01 * a12 - a11 * a02)) AS w1,
             |    (a00 * (a11 * b2 - b1 * a12)
             |      - a01 * (a01 * b2 - b1 * a02)
             |      + b0 * (a01 * a12 - a11 * a02))
             |    / (a00 * (a11 * a22 - a12 * a12)
             |      - a01 * (a01 * a22 - a12 * a02)
             |      + a02 * (a01 * a12 - a11 * a02)) AS w2
             |  FROM m$i)""".stripMargin
        }
        s"""WITH per AS (SELECT user_id,
           |    max(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END)
           |      AS t,
           |    coalesce((sum(CASE WHEN event_type = 'purchase'
           |        THEN value::DECIMAL(18,4) END))::DOUBLE, 0.0) AS y,
           |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           |      ::DOUBLE / 128.0 AS x1,
           |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           |      ::DOUBLE / 128.0 AS x2
           |  FROM events GROUP BY 1),
           |f AS (SELECT t AS y, x1, x2 FROM per),
           |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)},
           |wr AS (SELECT round(w0, 6) AS w0, round(w1, 6) AS w1,
           |    round(w2, 6) AS w2 FROM w3),
           |cl AS (SELECT per.t, per.y,
           |    least(greatest(1.0 / (1.0 + exp(-(wr.w0
           |        + wr.w1 * per.x1 + wr.w2 * per.x2))), 0.01),
           |      1.0 - 0.01) AS pc
           |  FROM per, wr),
           |ag AS (SELECT count(*)::BIGINT AS n,
           |    sum(CASE WHEN t = 1.0 THEN 1 ELSE 0 END)::BIGINT
           |      AS n_treat,
           |    (sum(CASE WHEN t = 1.0 THEN y::DECIMAL(18,4) END)
           |      ::VARCHAR)::DOUBLE AS st,
           |    (sum(CASE WHEN t <> 1.0 THEN y::DECIMAL(18,4) END)
           |      ::VARCHAR)::DOUBLE AS sc,
           |    (sum(round(t * y / pc - (1.0 - t) * y / (1.0 - pc), 6)
           |      ::DECIMAL(28,6))::VARCHAR)::DOUBLE AS ipw
           |  FROM cl)
           |SELECT ag.n, ag.n_treat, wr.w0, wr.w1, wr.w2,
           |  round(ag.st / ag.n_treat::DOUBLE
           |    - ag.sc / (ag.n - ag.n_treat)::DOUBLE, 6) AS ate_naive,
           |  round(ag.ipw / ag.n::DOUBLE, 6) AS ate_ipw
           |FROM ag, wr""".stripMargin
      }),

    Q("q288_cramer_von_mises",
      // Two-sample Cramér-von Mises criterion between purchase and
      // click value distributions ([[graft.operators.Ranks
      // .cramerVonMises]]) — the integral drift distance beside
      // q221's KS sup. Every term is exact integer arithmetic in
      // DECIMAL(38,0); T is engine-exact up to one rounded division.
      // The oracle pays the plain global window.
      (s, dir) => graft.operators.Ranks.cramerVonMises(
        Tables.events(s, dir), "value", "event_type",
        "purchase", "click"),
      """WITH two AS (SELECT value::DOUBLE AS v,
        |    (event_type = 'purchase') AS isa
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |g AS (SELECT v,
        |    sum(CASE WHEN isa THEN 1 ELSE 0 END)::BIGINT AS na_v,
        |    sum(CASE WHEN isa THEN 0 ELSE 1 END)::BIGINT AS nb_v
        |  FROM two GROUP BY v),
        |t AS (SELECT sum(na_v)::BIGINT AS n_a, sum(nb_v)::BIGINT AS n_b
        |  FROM g),
        |c AS (SELECT na_v, nb_v,
        |    sum(na_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cuma,
        |    sum(nb_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cumb
        |  FROM g),
        |s AS (SELECT t.n_a, t.n_b,
        |    sum((c.na_v + c.nb_v)::DECIMAL(38,0)
        |      * (c.cuma * t.n_b - c.cumb * t.n_a)
        |      * (c.cuma * t.n_b - c.cumb * t.n_a)) AS num
        |  FROM c, t GROUP BY 1, 2)
        |SELECT n_a, n_b,
        |  round((num::VARCHAR)::DOUBLE
        |    / ((n_a::DOUBLE + n_b::DOUBLE) * (n_a::DOUBLE + n_b::DOUBLE)
        |      * n_a::DOUBLE * n_b::DOUBLE), 6) AS t
        |FROM s""".stripMargin),

    Q("q289_boosted_stumps",
      // Two-round gradient boosting with regression stumps under
      // squared loss ([[graft.operators.Stump.boostedSseStumps]]):
      // price ~ quantity, each round an exact grid split + 6-dp
      // frozen leaf literals; residual SSE per round shows the boost.
      // round(r², 6) is boundary-free by the mod-64 argument in the
      // scaladoc. The oracle replays both rounds with argmax LIMIT 1.
      (s, dir) => graft.operators.Stump.boostedSseStumps(
        Tables.lineitem(s, dir), "l_quantity", "l_extendedprice",
        rounds = 2),
      {
        def round(i: Int, residual: String, from: String): String =
          s"""g$i AS (SELECT l_quantity::DOUBLE AS v,
             |    count(*)::BIGINT AS n_v,
             |    sum(round($residual, 6)::DECIMAL(28,6)) AS s_v,
             |    sum(round(($residual) * ($residual), 6)::DECIMAL(28,6))
             |      AS q_v
             |  FROM $from GROUP BY 1),
             |t$i AS (SELECT sum(n_v)::BIGINT AS bn, sum(s_v) AS bs,
             |    (sum(q_v)::VARCHAR)::DOUBLE AS bq FROM g$i),
             |c$i AS (SELECT v, sum(n_v) OVER w AS nl, sum(s_v) OVER w
             |    AS sl
             |  FROM g$i WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED
             |    PRECEDING AND CURRENT ROW)),
             |s$i AS (SELECT c$i.v, (c$i.sl::VARCHAR)::DOUBLE AS dsl,
             |    ((t$i.bs - c$i.sl)::VARCHAR)::DOUBLE AS dsr,
             |    c$i.nl::DOUBLE AS dnl,
             |    (t$i.bn - c$i.nl)::DOUBLE AS dnr, t$i.bq
             |  FROM c$i, t$i WHERE c$i.nl < t$i.bn),
             |p$i AS (SELECT v AS sp, round(dsl / dnl, 6) AS lm,
             |    round(dsr / dnr, 6) AS rm, round(bq, 6) AS sse
             |  FROM (SELECT *, round(dsl * dsl / dnl + dsr * dsr / dnr,
             |      6)::DECIMAL(28,6) AS sc FROM s$i
             |    ORDER BY sc DESC, v ASC LIMIT 1))""".stripMargin
        s"""WITH ${round(1, "l_extendedprice::DOUBLE", "lineitem")},
           |li2 AS (SELECT l_quantity,
           |    l_extendedprice::DOUBLE
           |      - (CASE WHEN l_quantity::DOUBLE <= p1.sp THEN p1.lm
           |         ELSE p1.rm END) AS r2
           |  FROM lineitem, p1),
           |${round(2, "r2", "li2")}
           |SELECT 1 AS round, sp AS split_value, lm AS mean_left,
           |  rm AS mean_right, sse AS sse_before FROM p1
           |UNION ALL
           |SELECT 2, sp, lm, rm, sse FROM p2
           |ORDER BY round""".stripMargin
      }),

    Q("q290_seasonal_decompose",
      // Additive seasonal decomposition of daily revenue
      // ([[graft.operators.TimeSeries.seasonalDecompose]]): centred
      // 7-day MA trend, day-of-week seasonal means of the detrended
      // series, mean |remainder| — all on the calendar grid; 6-dp
      // rounding of detrended values is boundary-free (denominator-700
      // rationals never hit a 5e-7 midpoint).
      (s, dir) => graft.operators.TimeSeries.seasonalDecompose(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice"),
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS d,
        |    sum(o_totalprice::DECIMAL(18,2)) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT d, x, count(*) OVER w AS n7, sum(x) OVER w AS s7
        |  FROM daily WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING
        |    AND 3 FOLLOWING)),
        |det AS (SELECT d,
        |    round(x::DOUBLE - (s7::VARCHAR)::DOUBLE / 7.0, 6)
        |      ::DECIMAL(28,6) AS det
        |  FROM r WHERE n7 = 7),
        |seas AS (SELECT dayofweek(d)::INT AS dow,
        |    count(*)::BIGINT AS n_days,
        |    round((sum(det)::VARCHAR)::DOUBLE / count(*)::DOUBLE, 6)
        |      AS seasonal
        |  FROM det GROUP BY 1),
        |rem AS (SELECT seas.dow, seas.n_days, seas.seasonal,
        |    round(abs(det.det::DOUBLE - seas.seasonal), 6)
        |      ::DECIMAL(28,6) AS r
        |  FROM det JOIN seas ON dayofweek(det.d)::INT = seas.dow)
        |SELECT dow, n_days, seasonal,
        |  round((sum(r)::VARCHAR)::DOUBLE / n_days::DOUBLE, 6)
        |    AS mean_abs_remainder
        |FROM rem GROUP BY 1, 2, 3 ORDER BY dow""".stripMargin),

    Q("q291_neyman_allocation",
      // Neyman-optimal eval-budget allocation across event types
      // ([[graft.pipeline.Sampling.neymanAllocation]], budget 1000):
      // n_h ∝ N_h·σ_h from one exact-decimal moment scan, integer
      // floors + largest-remainder on the metadata-sized stratum
      // frame so allocations sum exactly to the budget — the planner
      // q44's stratifiedTake executes.
      (s, dir) => graft.pipeline.Sampling.neymanAllocation(
        Tables.events(s, dir), "event_type", "value", 1000L),
      """WITH m AS (SELECT event_type AS stratum,
        |    count(*)::BIGINT AS n_h,
        |    (sum(value::DECIMAL(18,4))::VARCHAR)::DOUBLE AS s,
        |    (sum(value::DECIMAL(18,4) * value::DECIMAL(18,4))
        |      ::VARCHAR)::DOUBLE AS q
        |  FROM events GROUP BY 1),
        |sg AS (SELECT stratum, n_h,
        |    round(CASE WHEN n_h > 1 THEN
        |      sqrt((q - s * s / n_h::DOUBLE) / (n_h::DOUBLE - 1.0))
        |      ELSE 0.0 END, 6) AS sigma
        |  FROM m),
        |w AS (SELECT stratum, n_h, sigma,
        |    n_h::DOUBLE * sigma AS wgt FROM sg),
        |t AS (SELECT (sum(round(wgt, 6)::DECIMAL(38,6))::VARCHAR)
        |    ::DOUBLE AS tt FROM w),
        |sh AS (SELECT stratum, n_h, sigma,
        |    CASE WHEN t.tt > 0.0 THEN wgt / t.tt ELSE 0.0 END AS share
        |  FROM w, t),
        |fl AS (SELECT *, floor(1000.0 * share)::BIGINT AS fl,
        |    1000.0 * share - floor(1000.0 * share) AS fr FROM sh),
        |lv AS (SELECT 1000 - sum(fl)::BIGINT AS leftover FROM fl),
        |rk AS (SELECT *, row_number() OVER (ORDER BY fr DESC,
        |    stratum ASC) AS rk FROM fl)
        |SELECT stratum, n_h, sigma,
        |  (fl + CASE WHEN rk <= lv.leftover THEN 1 ELSE 0 END)::BIGINT
        |    AS alloc
        |FROM rk, lv ORDER BY stratum""".stripMargin),

    Q("q292_permutation_fleet_fdr",
      // A FLEET of per-cell permutation tests + Benjamini-Hochberg
      // ([[graft.operators.Resample.permutationTestsFdr]]): q241's
      // purchase-vs-click readout run simultaneously in 4 user cells
      // (ONE m×n pass keyed (cell, perm)), then BH step-up decided
      // ENTIRELY in LONG arithmetic — add-one p-values are exact
      // fractions, so no float ever decides a rejection.
      (s, dir) => {
        val d = org.apache.spark.sql.types.DecimalType(18, 4)
        val per = Tables.events(s, dir)
          .filter(col("event_type").isin("purchase", "click"))
          .groupBy("user_id")
          .agg(sum(when(col("event_type") === "purchase",
              col("value").cast(d))).as("sp"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("np"),
            sum(when(col("event_type") === "click",
              col("value").cast(d))).as("sc"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("nc"))
          .filter(col("np") > 0 && col("nc") > 0)
          .select((col("user_id") % 4).cast("string").as("cell"),
            col("user_id"),
            (col("sp").cast("double") / col("np").cast("double")
              - col("sc").cast("double") / col("nc").cast("double"))
              .as("d"))
        graft.operators.Resample.permutationTestsFdr(per, "cell",
          "user_id", "d", mPerms = 200, alphaPpm = 50000L)
      },
      """WITH pu AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase'
        |      THEN value::DECIMAL(18,4) END) AS sp,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      ::BIGINT AS np,
        |    sum(CASE WHEN event_type = 'click'
        |      THEN value::DECIMAL(18,4) END) AS sc,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      ::BIGINT AS nc
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY 1),
        |d AS (SELECT (user_id % 4)::VARCHAR AS g,
        |    user_id::VARCHAR AS k,
        |    round((sp::VARCHAR)::DOUBLE / np::DOUBLE
        |      - (sc::VARCHAR)::DOUBLE / nc::DOUBLE, 9)::DECIMAL(28,9)
        |      AS d
        |  FROM pu WHERE np > 0 AND nc > 0),
        |obs AS (SELECT g, sum(d) AS t0, count(*)::BIGINT AS n FROM d
        |  GROUP BY 1),
        |reps AS (SELECT d.g, pp.p,
        |    sum(CASE WHEN substr(md5(pp.p || '_' || d.k), 1, 1)
        |      IN ('0','2','4','6','8','a','c','e')
        |      THEN d.d ELSE -d.d END) AS tp
        |  FROM d, (SELECT unnest(range(0, 200)) AS p) pp GROUP BY 1, 2),
        |e AS (SELECT r.g, count(*)::BIGINT AS e FROM reps r
        |  JOIN obs o ON r.g = o.g WHERE abs(r.tp) >= abs(o.t0)
        |  GROUP BY 1),
        |cells AS (SELECT o.g, o.n, o.t0, coalesce(e.e, 0)::BIGINT AS e
        |  FROM obs o LEFT JOIN e USING (g)),
        |kk AS (SELECT count(*)::BIGINT AS k FROM cells),
        |rk AS (SELECT c.*, row_number() OVER (ORDER BY e ASC, g ASC)
        |    AS i FROM cells c),
        |ok AS (SELECT rk.*,
        |    (e + 1) * kk.k * 1000000 <= i * 50000 * 201 AS ok
        |  FROM rk, kk),
        |im AS (SELECT max(CASE WHEN ok THEN i END) AS imax FROM ok)
        |SELECT g AS cell, n AS n_pairs,
        |  round((t0::VARCHAR)::DOUBLE / n::DOUBLE, 6) AS mean_diff,
        |  e AS n_extreme,
        |  round((1.0 + e::DOUBLE) / (200.0 + 1.0), 6) AS p_value,
        |  (im.imax IS NOT NULL AND i <= im.imax) AS significant
        |FROM ok, im ORDER BY cell""".stripMargin),

    Q("q293_lm_backoff_score",
      // Trigram stupid-backoff scoring on a HOLDOUT (fit even docs,
      // score odd — [[graft.text.TextAnalysis.stupidBackoffScore]]):
      // the CCNet-style LM quality filter where backoff actually
      // fires; per-event chain c3/c2 → 0.4·c2/c1 → 0.16·c1/N → 0.16/N
      // OOV floor keeps every log finite. Model = three sparse count
      // relations; 9-dp decimal per-doc log sums.
      (s, dir) => graft.text.TextAnalysis.stupidBackoffScore(
        Tables.documents(s, dir), "doc_id", "text",
        col("doc_id") % 2 === 0),
      {
        val tri = "[struct_pack(u := l[i-2], v := l[i-1], w := l[i]) " +
          "for i in range(3, len(l)+1)]"
        s"""WITH t AS (SELECT doc_id, doc_id % 2 = 0 AS fit,
           |    $toksSql AS l FROM documents),
           |u1 AS (SELECT unnest(l) AS t FROM t WHERE fit),
           |c1 AS (SELECT t, count(*)::DOUBLE AS c1 FROM u1 GROUP BY 1),
           |nn AS (SELECT count(*)::DOUBLE AS n FROM u1),
           |b AS (SELECT p.u, p.v FROM (SELECT
           |    unnest([struct_pack(u := l[i], v := l[i+1])
           |      for i in range(1, len(l))]) AS p
           |  FROM t WHERE fit AND len(l) >= 2)),
           |c2 AS (SELECT u, v, count(*)::DOUBLE AS c2 FROM b
           |  GROUP BY 1, 2),
           |tg AS (SELECT p.u, p.v, p.w FROM (SELECT unnest($tri) AS p
           |  FROM t WHERE fit AND len(l) >= 3)),
           |c3 AS (SELECT u, v, w, count(*)::DOUBLE AS c3 FROM tg
           |  GROUP BY 1, 2, 3),
           |ev AS (SELECT doc_id, p.u, p.v, p.w FROM (SELECT doc_id,
           |    unnest($tri) AS p
           |  FROM t WHERE NOT fit AND len(l) >= 3)),
           |j AS (SELECT ev.doc_id, c3.c3, a.c2 AS c2uv, bb.c2 AS c2vw,
           |    cv.c1 AS c1v, cw.c1 AS c1w, nn.n
           |  FROM ev
           |  LEFT JOIN c3 ON ev.u = c3.u AND ev.v = c3.v
           |    AND ev.w = c3.w
           |  LEFT JOIN c2 a ON ev.u = a.u AND ev.v = a.v
           |  LEFT JOIN c2 bb ON ev.v = bb.u AND ev.w = bb.v
           |  LEFT JOIN c1 cv ON ev.v = cv.t
           |  LEFT JOIN c1 cw ON ev.w = cw.t, nn),
           |s AS (SELECT doc_id,
           |    round(ln(CASE WHEN c3 IS NOT NULL THEN c3 / c2uv
           |      ELSE 0.4 * (CASE WHEN c2vw IS NOT NULL
           |        THEN c2vw / c1v
           |        ELSE 0.4 * (CASE WHEN c1w IS NOT NULL THEN c1w / n
           |          ELSE 1.0 / n END) END) END), 9)::DECIMAL(28,9)
           |      AS lp,
           |    CASE WHEN c3 IS NULL THEN 1 ELSE 0 END AS bo
           |  FROM j)
           |SELECT doc_id, count(*)::BIGINT AS n_events,
           |  sum(bo)::BIGINT AS n_backoff,
           |  round((sum(lp)::VARCHAR)::DOUBLE / count(*)::DOUBLE, 6)
           |    AS avg_logscore
           |FROM s GROUP BY 1 ORDER BY doc_id""".stripMargin
      }),

    Q("q294_markov_attribution",
      // Markov removal-effect attribution ([[graft.operators
      // .Attribution.markovRemoval]]) — the chain-based model closing
      // the attribution family (first/linear/U q257, last q175,
      // Shapley q260): knock each channel out of the integer-ppm
      // transition matrix and measure the drop in P(conv | start).
      // Value iteration runs ENTIRELY in integer ppb with truncating
      // division, driver-side on the metadata-sized matrix; the
      // oracle unrolls all 16 rounds x 4 scenarios in CTEs —
      // bit-for-bit the same longs.
      (s, dir) => graft.operators.Attribution.markovRemoval(
        Tables.events(s, dir), Seq("click", "signup", "view"),
        iters = 16),
      {
        val chans = Seq("click", "signup", "view")
        def scenario(sc: String, rem: Option[String]): String = {
          val remSql = rem.map(c => s" OR s.state = '$c'").getOrElse("")
          val init = s"""a_${sc}_0 AS (SELECT state,
             |  (CASE WHEN state = 'conv' THEN 1000000000
             |   ELSE 0 END)::BIGINT AS v FROM sts)""".stripMargin
          val rounds = (1 to 16).map { i =>
            s"""a_${sc}_$i AS (SELECT s.state,
               |  (CASE WHEN s.state = 'conv' THEN 1000000000
               |    WHEN s.state = 'null'$remSql THEN 0
               |    ELSE coalesce(x.v, 0) END)::BIGINT AS v
               |  FROM sts s LEFT JOIN (SELECT tr.from_state AS state,
               |      sum(tr.ppm * a.v) // 1000000 AS v
               |    FROM tr JOIN a_${sc}_${i - 1} a
               |      ON tr.to_state = a.state GROUP BY 1) x
               |    ON s.state = x.state)""".stripMargin
          }.mkString(",\n")
          s"$init,\n$rounds"
        }
        val effRows = chans.map(c =>
          s"""SELECT '$c' AS channel, b.v AS base_ppb,
             |  r.v AS removed_ppb,
             |  round((b.v - r.v)::DOUBLE / b.v::DOUBLE, 6)
             |    AS removal_effect
             |  FROM a_base_16 b, a_${c}_16 r
             |  WHERE b.state = 'start' AND r.state = 'start'"""
            .stripMargin).mkString("\nUNION ALL\n")
        s"""WITH ev AS (SELECT user_id, event_id, event_type,
           |    date_trunc('second', ts) AS ts FROM events),
           |cv AS (SELECT DISTINCT user_id FROM ev
           |  WHERE event_type = 'purchase'),
           |tc AS (SELECT e.user_id, e.event_type AS st,
           |    row_number() OVER (PARTITION BY e.user_id
           |      ORDER BY e.ts, e.event_id) AS rn,
           |    lead(e.event_type) OVER (PARTITION BY e.user_id
           |      ORDER BY e.ts, e.event_id) AS nxt,
           |    CASE WHEN cv.user_id IS NOT NULL THEN 'conv'
           |      ELSE 'null' END AS absorb
           |  FROM ev e LEFT JOIN cv ON e.user_id = cv.user_id
           |  WHERE e.event_type IN ('click', 'signup', 'view')),
           |pr AS (SELECT 'start' AS f, st AS t FROM tc WHERE rn = 1
           |  UNION ALL SELECT st, coalesce(nxt, absorb) FROM tc),
           |cnt AS (SELECT f AS from_state, t AS to_state,
           |    count(*)::BIGINT AS n FROM pr GROUP BY 1, 2),
           |tr AS MATERIALIZED (SELECT from_state, to_state,
           |    (n * 1000000) // (sum(n) OVER (PARTITION BY from_state))
           |      AS ppm
           |  FROM cnt),
           |sts AS MATERIALIZED (SELECT DISTINCT from_state AS state
           |  FROM tr UNION SELECT DISTINCT to_state FROM tr),
           |${scenario("base", None)},
           |${chans.map(c => scenario(c, Some(c))).mkString(",\n")},
           |eff AS ($effRows),
           |tt AS (SELECT sum(removal_effect::DECIMAL(18,6)) AS te
           |  FROM eff)
           |SELECT channel, base_ppb, removed_ppb, removal_effect,
           |  CASE WHEN tt.te > 0 THEN
           |    round(removal_effect / (tt.te::VARCHAR)::DOUBLE, 6)
           |  END AS share
           |FROM eff, tt ORDER BY channel""".stripMargin
      }),

    Q("q295_lorenz_deciles",
      // Lorenz-curve decile table of per-customer revenue
      // ([[graft.operators.Customer.lorenzDeciles]]) — the inequality
      // PROFILE behind q224's Gini number. Ranks ride the bucketed
      // row-number machinery; decile cuts and cumulative shares are
      // exact integer/DECIMAL arithmetic (HUGEINT div in the oracle).
      (s, dir) => graft.operators.Customer.lorenzDeciles(
        Tables.orders(s, dir), "o_custkey", "o_totalprice"),
      """WITH pe AS (SELECT o_custkey AS id,
        |    sum(o_totalprice::DECIMAL(18,4)) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (SELECT sum(rev) AS tot, count(*)::BIGINT AS n FROM pe),
        |rk AS (SELECT id, rev,
        |    row_number() OVER (ORDER BY rev::DOUBLE, id) AS r FROM pe),
        |d AS (SELECT least(9, ((r - 1) * 10) // t.n)::BIGINT AS decile,
        |    rev FROM rk, t),
        |g AS (SELECT decile, count(*)::BIGINT AS n_entities,
        |    sum(rev) AS drev FROM d GROUP BY 1),
        |c AS (SELECT decile, n_entities, drev,
        |    sum(drev) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cum
        |  FROM g)
        |SELECT decile, n_entities,
        |  round((drev::VARCHAR)::DOUBLE, 2) AS revenue,
        |  (((cum * 100)::HUGEINT * 1000000)
        |    // (SELECT (tot * 100)::HUGEINT FROM t))::BIGINT
        |    AS cum_share_ppm
        |FROM c ORDER BY decile""".stripMargin),

    Q("q296_session_paths",
      // Top session paths with conversion rates ([[graft.operators
      // .Sessionize.topPaths]]): q48's sessionization + the first-5
      // event types per session joined with '>' — path material
      // bounded BEFORE aggregation (step ≤ 5), conversion counted
      // over the WHOLE session, ppm rates, TakeOrdered top-20.
      (s, dir) => graft.operators.Sessionize.topPaths(
        Tables.events(s, dir),
        graft.operators.Sessionize.DefaultGapSeconds,
        maxSteps = 5, topK = 20),
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    epoch(date_trunc('second', ts))::BIGINT AS s FROM events),
         |m AS (
         |  SELECT *, CASE WHEN lag(s) OVER w IS NULL
         |      OR s - lag(s) OVER w > ${graft.operators.Sessionize.DefaultGapSeconds}
         |    THEN 1 ELSE 0 END AS new_s
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
         |x AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY s,
         |    event_id ROWS UNBOUNDED PRECEDING)::BIGINT AS sidx
         |  FROM m),
         |p AS (SELECT user_id, sidx,
         |    array_to_string(
         |      (list(event_type ORDER BY s, event_id))[1:5], '>')
         |      AS path,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      ::BIGINT AS cv
         |  FROM x GROUP BY 1, 2),
         |g AS (SELECT path, count(*)::BIGINT AS n_sessions,
         |    sum(cv)::BIGINT AS nc FROM p GROUP BY 1)
         |SELECT path, n_sessions,
         |  (nc * 1000000) // n_sessions AS conv_ppm
         |FROM g ORDER BY n_sessions DESC, path ASC
         |LIMIT 20""".stripMargin),

    Q("q297_cheapest_paths",
      // Min-plus (tropical) cheapest paths on the WEIGHTED co-purchase
      // graph ([[graft.operators.Graph.cheapestPaths]]): edge cost =
      // 1e6 div co-basket count (popular links cheap), 4 Bellman-Ford
      // rounds of ALL-LONG min/plus from the min vertex — the third
      // distributed-algebra shape beside prefix sums and running max;
      // the oracle unrolls the same 4 relaxations.
      (s, dir) => {
        val ew = graft.operators.Graph.weightedBasketEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
          "l_orderkey", "l_partkey").localCheckpoint(true)
        graft.operators.Graph.cheapestPaths(ew,
          ew.agg(min(col("a")).as("v")), rounds = 4, topK = 10)
      },
      {
        val rounds = (1 to 4).map { i =>
          s"""d$i AS MATERIALIZED (SELECT v, min(cost)::BIGINT AS cost
             |  FROM (SELECT v, cost FROM d${i - 1}
             |    UNION ALL
             |    SELECT arcs.v, d${i - 1}.cost + arcs.cost
             |    FROM d${i - 1} JOIN arcs ON d${i - 1}.v = arcs.u)
             |  GROUP BY 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH bi AS MATERIALIZED (SELECT DISTINCT
           |    l_orderkey AS basket, l_partkey AS item
           |  FROM lineitem WHERE l_orderkey % 4 = 0),
           |okb AS (SELECT basket FROM bi GROUP BY basket
           |        HAVING count(*) <= 10000),
           |ew AS MATERIALIZED (SELECT x.item AS a, y.item AS b,
           |    count(*)::BIGINT AS n
           |  FROM bi x JOIN bi y ON x.basket = y.basket
           |    AND x.item < y.item
           |  WHERE x.basket IN (SELECT basket FROM okb)
           |  GROUP BY 1, 2),
           |wc AS (SELECT a, b, 1000000 // n AS cost FROM ew),
           |arcs AS MATERIALIZED (SELECT a AS u, b AS v, cost FROM wc
           |  UNION ALL SELECT b AS u, a AS v, cost FROM wc),
           |d0 AS (SELECT min(a) AS v, 0::BIGINT AS cost FROM wc),
           |$rounds
           |SELECT v, cost FROM d4 ORDER BY cost, v LIMIT 10"""
          .stripMargin
      }),

    Q("q298_also_bought",
      // "People also bought": for the 10 best-connected parts, the
      // top-3 co-purchase partners by co-basket count — adjacency
      // ranking with windows PARTITIONED BY ITEM (high cardinality,
      // never a corpus window); counts integer, ties by partner id.
      (s, dir) => {
        val ew = graft.operators.Graph.weightedBasketEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
          "l_orderkey", "l_partkey").localCheckpoint(true)
        val sym = ew.select(col("a").as("item"), col("b").as("partner"),
            col("n"))
          .unionAll(ew.select(col("b").as("item"), col("a").as("partner"),
            col("n")))
        val top = sym.groupBy("item").agg(sum(col("n")).as("tot"))
          .orderBy(col("tot").desc, col("item").asc).limit(10)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("item")
          .orderBy(col("n").desc, col("partner").asc)
        sym.join(top.select("item"), Seq("item"), "left_semi")
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("item"), col("rank"), col("partner"),
            col("n").as("n_baskets"))
          .orderBy("item", "rank")
      },
      s"""WITH bi AS MATERIALIZED (SELECT DISTINCT
         |    l_orderkey AS basket, l_partkey AS item
         |  FROM lineitem WHERE l_orderkey % 4 = 0),
         |okb AS (SELECT basket FROM bi GROUP BY basket
         |        HAVING count(*) <= 10000),
         |ew AS MATERIALIZED (SELECT x.item AS a, y.item AS b,
         |    count(*)::BIGINT AS n
         |  FROM bi x JOIN bi y ON x.basket = y.basket
         |    AND x.item < y.item
         |  WHERE x.basket IN (SELECT basket FROM okb)
         |  GROUP BY 1, 2),
         |sym AS (SELECT a AS item, b AS partner, n FROM ew
         |  UNION ALL SELECT b AS item, a AS partner, n FROM ew),
         |top AS (SELECT item FROM sym GROUP BY item
         |  ORDER BY sum(n) DESC, item ASC LIMIT 10),
         |rk AS (SELECT s.item, s.partner, s.n,
         |    row_number() OVER (PARTITION BY s.item
         |      ORDER BY s.n DESC, s.partner ASC) AS rank
         |  FROM sym s JOIN top ON s.item = top.item)
         |SELECT item, rank, partner, n AS n_baskets
         |FROM rk WHERE rank <= 3 ORDER BY item, rank""".stripMargin),

    Q("q299_prf_search",
      // Pseudo-relevance feedback ([[graft.search.TextSearch
      // .prfSearch]], Rocchio-lite): BM25 top-10 as implicit
      // judgments, top-3 expansion terms by Σ feedback-tf × corpus
      // idf (6-dp weight, term tiebreak), rescore with the expanded
      // query — the recall lever q28's raw query lacks. Only 3 term
      // strings cross to the driver; feedback docs semi-join the
      // postings.
      (s, dir) => graft.search.TextSearch.prfSearch(
        Tables.documents(s, dir), "doc_id", "text", QueryText,
        fbDocs = 10, expandK = 3, topK = 10),
      s"""WITH toks AS (SELECT doc_id, $toksSql AS l FROM documents),
         |posting AS (
         |  SELECT doc_id, len(l)::DOUBLE AS dl, unnest(l) AS term
         |  FROM toks),
         |tf AS (SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
         |       FROM posting GROUP BY doc_id, term, dl),
         |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |  (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf))
         |    AS avgdl),
         |df1 AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
         |  FROM tf WHERE term IN (SELECT unnest($qtermsSql))
         |  GROUP BY term),
         |idf1 AS (SELECT term,
         |    ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
         |  FROM df1, stats),
         |s1 AS (SELECT doc_id, round(sum(term_score), 6) AS s FROM (
         |  SELECT tf.doc_id,
         |    idf1.idf * tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))
         |      AS term_score
         |  FROM tf JOIN idf1 ON tf.term = idf1.term, stats)
         |  GROUP BY doc_id),
         |fb AS (SELECT doc_id FROM s1 ORDER BY s DESC, doc_id
         |  LIMIT 10),
         |cand AS (SELECT tf.term, sum(tf.tf) AS fbtf
         |  FROM tf JOIN fb ON tf.doc_id = fb.doc_id
         |  WHERE tf.term NOT IN (SELECT unnest($qtermsSql))
         |  GROUP BY 1),
         |dfc AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
         |  FROM tf WHERE term IN (SELECT term FROM cand)
         |  GROUP BY term),
         |exp AS (SELECT cand.term
         |  FROM cand JOIN dfc ON cand.term = dfc.term, stats
         |  ORDER BY round(cand.fbtf * ln(1.0 +
         |      (stats.n - dfc.df + 0.5) / (dfc.df + 0.5)), 6) DESC,
         |    cand.term ASC LIMIT 3),
         |q2 AS (SELECT unnest($qtermsSql) AS term
         |  UNION SELECT term FROM exp),
         |df2 AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
         |  FROM tf WHERE term IN (SELECT term FROM q2)
         |  GROUP BY term),
         |idf2 AS (SELECT term,
         |    ln(1.0 + (stats.n - df + 0.5) / (df + 0.5)) AS idf
         |  FROM df2, stats)
         |SELECT doc_id, round(sum(term_score), 6) AS bm25_expanded
         |FROM (
         |  SELECT tf.doc_id,
         |    idf2.idf * tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))
         |      AS term_score
         |  FROM tf JOIN idf2 ON tf.term = idf2.term, stats)
         |GROUP BY doc_id ORDER BY bm25_expanded DESC, doc_id
         |LIMIT 10""".stripMargin),

    Q("q300_cv_ridge",
      // K-fold cross-validated ridge selection IN CLOSED FORM
      // ([[graft.operators.Regression.cvRidge]]): normal-equation
      // moments are ADDITIVE, so leave-one-fold-out training moments
      // are total − fold (exact decimal subtraction) and each
      // (fold, λ) fit + validation SSE is pure algebra on a k-row
      // metadata frame — model selection over the λ grid from ONE
      // moments-per-fold scan, no second data pass, no gradient loop.
      // Per-fold SSE doubles round to INTEGER (ulp-dominated digits)
      // and DECIMAL-sum.
      (s, dir) => graft.operators.Regression.cvRidge(
        Tables.lineitem(s, dir),
        "l_extendedprice", "l_quantity", "l_discount",
        concat(col("l_orderkey"), lit(":"), col("l_linenumber")),
        Seq(0.0, 1000.0, 1000000.0, 1.0e9), k = 5),
      """WITH pf AS (SELECT
        |    ((('0x' || substr(md5(l_orderkey || ':' || l_linenumber),
        |      1, 15))::UBIGINT % 5))::BIGINT AS fold,
        |    count(*)::BIGINT AS n,
        |    sum(l_quantity::DECIMAL(19,4)) AS s1,
        |    sum(l_discount::DECIMAL(19,4)) AS s2,
        |    sum(l_quantity::DECIMAL(19,4) * l_quantity::DECIMAL(19,4)) AS s11,
        |    sum(l_quantity::DECIMAL(19,4) * l_discount::DECIMAL(19,4)) AS s12,
        |    sum(l_discount::DECIMAL(19,4) * l_discount::DECIMAL(19,4)) AS s22,
        |    sum(l_extendedprice::DECIMAL(19,4)) AS sy,
        |    sum(l_quantity::DECIMAL(19,4) * l_extendedprice::DECIMAL(19,4)) AS s1y,
        |    sum(l_discount::DECIMAL(19,4) * l_extendedprice::DECIMAL(19,4)) AS s2y,
        |    sum(l_extendedprice::DECIMAL(19,4) * l_extendedprice::DECIMAL(19,4)) AS syy
        |  FROM lineitem GROUP BY 1),
        |tt AS (SELECT sum(n) AS t_n, sum(s1) AS t_s1, sum(s2) AS t_s2,
        |    sum(s11) AS t_s11, sum(s12) AS t_s12, sum(s22) AS t_s22,
        |    sum(sy) AS t_sy, sum(s1y) AS t_s1y, sum(s2y) AS t_s2y,
        |    sum(syy) AS t_syy FROM pf),
        |wl AS (SELECT pf.*, l.lambda FROM pf,
        |  (SELECT unnest([0.0, 1000.0, 1000000.0, 1.0e9]) AS lambda) l,
        |  tt),
        |m AS (SELECT wl.lambda, wl.n AS vn,
        |    (wl.s1::VARCHAR)::DOUBLE AS vs1,
        |    (wl.s2::VARCHAR)::DOUBLE AS vs2,
        |    (wl.s11::VARCHAR)::DOUBLE AS vs11,
        |    (wl.s12::VARCHAR)::DOUBLE AS vs12,
        |    (wl.s22::VARCHAR)::DOUBLE AS vs22,
        |    (wl.sy::VARCHAR)::DOUBLE AS vsy,
        |    (wl.s1y::VARCHAR)::DOUBLE AS vs1y,
        |    (wl.s2y::VARCHAR)::DOUBLE AS vs2y,
        |    (wl.syy::VARCHAR)::DOUBLE AS vsyy,
        |    (tt.t_n - wl.n)::DOUBLE AS n,
        |    ((tt.t_s1 - wl.s1)::VARCHAR)::DOUBLE AS s1,
        |    ((tt.t_s2 - wl.s2)::VARCHAR)::DOUBLE AS s2,
        |    ((tt.t_s11 - wl.s11)::VARCHAR)::DOUBLE + wl.lambda AS s11,
        |    ((tt.t_s12 - wl.s12)::VARCHAR)::DOUBLE AS s12,
        |    ((tt.t_s22 - wl.s22)::VARCHAR)::DOUBLE + wl.lambda AS s22,
        |    ((tt.t_sy - wl.sy)::VARCHAR)::DOUBLE AS sy,
        |    ((tt.t_s1y - wl.s1y)::VARCHAR)::DOUBLE AS s1y,
        |    ((tt.t_s2y - wl.s2y)::VARCHAR)::DOUBLE AS s2y
        |  FROM wl, tt),
        |d AS (SELECT *,
        |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2) AS det,
        |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
        |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s2y - s1y * s2) AS det1,
        |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |      + sy * (s1 * s12 - s11 * s2) AS det2
        |  FROM m),
        |sse AS (SELECT lambda, vn,
        |    round(vsyy
        |      + (det0 / det) * (det0 / det) * vn::DOUBLE
        |      + (det1 / det) * (det1 / det) * vs11
        |      + (det2 / det) * (det2 / det) * vs22
        |      - 2.0 * (det0 / det) * vsy
        |      - 2.0 * (det1 / det) * vs1y
        |      - 2.0 * (det2 / det) * vs2y
        |      + 2.0 * (det0 / det) * (det1 / det) * vs1
        |      + 2.0 * (det0 / det) * (det2 / det) * vs2
        |      + 2.0 * (det1 / det) * (det2 / det) * vs12,
        |      0)::DECIMAL(38,0) AS s
        |  FROM d)
        |SELECT lambda,
        |  round(sqrt((sum(s)::VARCHAR)::DOUBLE
        |    / sum(vn)::DOUBLE), 6) AS cv_rmse
        |FROM sse GROUP BY 1 ORDER BY lambda""".stripMargin),

    Q("q301_price_elasticity",
      // Log-log price elasticity of demand across parts
      // ([[graft.operators.Regression.priceElasticity]]): OLS slope of
      // ln(qty) ~ ln(unit price), unit price = Σrev/Σqty in DOUBLE
      // from exact decimal sums (decimal division rounding differs
      // across engines — never used); irrational ln terms ride 7-dp
      // DECIMAL sums (the IRLS discipline).
      (s, dir) => graft.operators.Regression.priceElasticity(
        Tables.lineitem(s, dir), "l_partkey",
        "l_extendedprice", "l_quantity"),
      """WITH per AS (SELECT l_partkey,
        |    sum(l_extendedprice::DECIMAL(19,4)) AS r,
        |    sum(l_quantity::DECIMAL(19,4)) AS q
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(l_extendedprice::DECIMAL(19,4)) > 0
        |    AND sum(l_quantity::DECIMAL(19,4)) > 0),
        |xy AS (SELECT ln((r::VARCHAR)::DOUBLE / (q::VARCHAR)::DOUBLE)
        |      AS x,
        |    ln((q::VARCHAR)::DOUBLE) AS y FROM per),
        |m AS (SELECT count(*)::DOUBLE AS n,
        |    (sum(round(x, 7)::DECIMAL(28,9))::VARCHAR)::DOUBLE AS sx,
        |    (sum(round(x * x, 7)::DECIMAL(28,9))::VARCHAR)::DOUBLE
        |      AS sxx,
        |    (sum(round(y, 7)::DECIMAL(28,9))::VARCHAR)::DOUBLE AS sy,
        |    (sum(round(x * y, 7)::DECIMAL(28,9))::VARCHAR)::DOUBLE
        |      AS sxy,
        |    (sum(round(y * y, 7)::DECIMAL(28,9))::VARCHAR)::DOUBLE
        |      AS syy
        |  FROM xy),
        |b AS (SELECT n, sy, sxy, syy,
        |    (sxy - sx * sy / n) / (sxx - sx * sx / n) AS beta,
        |    sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
        |      * (sx / n) AS alpha
        |  FROM m)
        |SELECT n::BIGINT AS n_entities,
        |  round(beta, 6) AS elasticity,
        |  round(alpha, 6) AS intercept,
        |  round(1.0 - (syy - alpha * sy - beta * sxy)
        |    / (syy - sy * sy / n), 6) AS r2
        |FROM b""".stripMargin),

    Q("q302_uncertainty_sample",
      // Active-learning batch selection ([[graft.pipeline
      // .QualityClassifier.uncertaintySample]]): the 20 docs the
      // frozen q133 model is least sure about (|p − 1/2| smallest,
      // 6-dp rounded, id tiebreak), ≤ 5 per source so one noisy
      // source can't absorb the labeling batch — the "what should
      // humans label next" selector.
      (s, dir) => graft.pipeline.QualityClassifier.uncertaintySample(
        Tables.documents(s, dir), "doc_id", "text", "source",
        QcWeights, QcIntercept, perSourceCap = 5, k = 20),
      {
        val mkSql = TextAnalysis.Stopwords.toMap.apply("en")
          .map(m => s"'$m'").mkString("[", ",", "]")
        val w = QcWeights.map(dec)
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS l FROM documents),
           |f AS (SELECT doc_id,
           |    ln(1.0 + length(text)::DOUBLE) AS f1,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE length(regexp_replace(text, '[^A-Za-z0-9]', '',
           |                'g'))::DOUBLE / length(text)::DOUBLE END AS f2,
           |    length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
           |      / greatest(len(l)::DOUBLE, 1.0) AS f3,
           |    CASE WHEN len(l) = 0 THEN 0.0
           |         ELSE length(regexp_replace(text, '[^A-Za-z0-9]', '',
           |                'g'))::DOUBLE / len(l)::DOUBLE END AS f4,
           |    CASE WHEN len(l) = 0 THEN 0.0
           |         ELSE len(list_intersect(l, $mkSql))::DOUBLE
           |              / len(list_distinct(l))::DOUBLE END AS f5
           |  FROM t),
           |z AS (SELECT doc_id,
           |    (${dec(QcIntercept)} + ${w(0)} * f1 + ${w(1)} * f2
           |      + ${w(2)} * f3 + ${w(3)} * f4 + ${w(4)} * f5) AS z FROM f),
           |p AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6)
           |        AS quality_p FROM z),
           |s AS (SELECT p.doc_id, d.source, p.quality_p,
           |    round(abs(p.quality_p - 0.5), 6) AS uncertainty
           |  FROM p JOIN documents d USING (doc_id)),
           |r AS (SELECT *, row_number() OVER (PARTITION BY source
           |    ORDER BY uncertainty, doc_id) AS rn FROM s)
           |SELECT doc_id, source, quality_p, uncertainty
           |FROM r WHERE rn <= 5
           |ORDER BY uncertainty, doc_id LIMIT 20""".stripMargin
      }),

    Q("q303_fk_audit",
      // Referential-integrity audit: orphan counts along the schema's
      // FK chain (lineitem→orders→customer→nation) — the data-quality
      // primitive beside q182's single-table contract. Three anti-join
      // counts, each a broadcast/shuffle join Catalyst plans freely;
      // all integers.
      (s, dir) => {
        def orphans(name: String, child: org.apache.spark.sql.DataFrame,
            key: String, parent: org.apache.spark.sql.DataFrame,
            pkey: String) =
          child.join(parent.select(col(pkey).as(key)), Seq(key),
              "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
            .select(lit(name).as("relation"), col("n_orphans"))
        orphans("customer->nation", Tables.customer(s, dir),
            "c_nationkey", Tables.nation(s, dir), "n_nationkey")
          .unionAll(orphans("lineitem->orders", Tables.lineitem(s, dir),
            "l_orderkey", Tables.orders(s, dir), "o_orderkey"))
          .unionAll(orphans("orders->customer", Tables.orders(s, dir),
            "o_custkey", Tables.customer(s, dir), "c_custkey"))
          .orderBy("relation")
      },
      """SELECT 'customer->nation' AS relation,
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |    (SELECT 1 FROM nation n
        |     WHERE n.n_nationkey = c.c_nationkey))::BIGINT AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->orders',
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o
        |     WHERE o.o_orderkey = l.l_orderkey))::BIGINT
        |UNION ALL
        |SELECT 'orders->customer',
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c
        |     WHERE c.c_custkey = o.o_custkey))::BIGINT
        |ORDER BY relation""".stripMargin),

    Q("q304_yoy_quantile_shift",
      // Year-over-year order-value quantile shift: exact p50/p75 per
      // order year from the no-global-sort grid machinery
      // ([[graft.operators.Ranks.quantileDisc]], binary-exact ps),
      // lag deltas over the YEAR grid (calendar-bounded window).
      // "Is the typical order growing, and is the tail growing
      // faster?"
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy("yr")
        graft.operators.Ranks.quantileDisc(
            Tables.orders(s, dir)
              .withColumn("yr", year(col("o_orderdate"))),
            "yr", "o_totalprice", Seq(0.25, 0.5, 0.75))
          .groupBy("yr")
          .agg(max(when(col("p") === 0.25, col("value"))).as("p25"),
            max(when(col("p") === 0.5, col("value"))).as("p50"),
            max(when(col("p") === 0.75, col("value"))).as("p75"))
          .withColumn("d50",
            round(col("p50") - lag("p50", 1).over(w), 2)) // year grid
          .withColumn("d75",
            round(col("p75") - lag("p75", 1).over(w), 2))
          .orderBy("yr")
      },
      """WITH q AS (SELECT year(o_orderdate)::INT AS yr,
        |    quantile_disc(o_totalprice, 0.25) AS p25,
        |    quantile_disc(o_totalprice, 0.5) AS p50,
        |    quantile_disc(o_totalprice, 0.75) AS p75
        |  FROM orders GROUP BY 1)
        |SELECT yr, p25, p50, p75,
        |  round(p50 - lag(p50) OVER (ORDER BY yr), 2) AS d50,
        |  round(p75 - lag(p75) OVER (ORDER BY yr), 2) AS d75
        |FROM q ORDER BY yr""".stripMargin),

    Q("q305_count_dispersion",
      // Daily-count dispersion (Fano factor) per event type: var/mean
      // of events-per-day from exact integer moments — the burstiness
      // gate (dispersion > 1 = overdispersed, a Poisson rate model
      // would lie). One scan to the (type, day) grid; the comparison
      // var > mean is on identical doubles of exact integer inputs.
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("d"))
          .agg(count(lit(1)).as("c"))
        daily.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"), sum(col("c")).as("s"),
            sum(col("c") * col("c")).as("q"))
          .select(col("event_type"), col("n_days"),
            round(col("s").cast("double")
              / col("n_days").cast("double"), 6).as("mean_daily"),
            round({
              val n = col("n_days").cast("double")
              val m = col("s").cast("double") / n
              ((col("q").cast("double")
                - col("s").cast("double") * col("s").cast("double") / n)
                / (n - 1.0)) / m
            }, 6).as("dispersion"))
          .orderBy("event_type")
      },
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS d,
        |    count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*)::BIGINT AS n_days,
        |    sum(c)::BIGINT AS s, sum(c * c)::BIGINT AS q
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days,
        |  round(s::DOUBLE / n_days::DOUBLE, 6) AS mean_daily,
        |  round(((q::DOUBLE - s::DOUBLE * s::DOUBLE / n_days::DOUBLE)
        |      / (n_days::DOUBLE - 1.0))
        |    / (s::DOUBLE / n_days::DOUBLE), 6) AS dispersion
        |FROM m ORDER BY event_type""".stripMargin),

    Q("q306_feature_gain_screen",
      // Single-feature screen: the best stump split + information
      // gain for EACH candidate feature against the high-value label
      // ([[graft.operators.Stump.bestSplit]] × 3) — "which feature is
      // worth anything" before model training; ranked gains are
      // exact-decimal argmaxes per feature.
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        Seq("l_quantity", "l_discount", "l_tax").map { f =>
          graft.operators.Stump.bestSplit(li, f,
              col("l_extendedprice") > 30000.0)
            .select(lit(f).as("feature"), col("split_value"),
              col("info_gain"))
        }.reduce(_ unionAll _).orderBy("feature")
      },
      {
        def xlx(e: String) =
          s"(CASE WHEN ($e) > 0 THEN ($e)::DOUBLE * ln(($e)::DOUBLE) ELSE 0.0 END)"
        def one(f: String) =
          s"""(WITH pv AS (SELECT $f::DOUBLE AS v,
             |    sum(CASE WHEN l_extendedprice > 30000.0 THEN 1
             |      ELSE 0 END)::BIGINT AS p_v,
             |    count(*)::BIGINT AS n_v FROM lineitem GROUP BY 1),
             |tt AS (SELECT sum(p_v)::BIGINT AS bigp,
             |    sum(n_v)::BIGINT AS bign FROM pv),
             |c AS (SELECT v,
             |    sum(n_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW)::BIGINT AS nl,
             |    sum(p_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW)::BIGINT AS pl
             |  FROM pv),
             |f AS (SELECT c.v, c.nl, c.pl, tt.bign - c.nl AS nr,
             |    tt.bigp - c.pl AS pr, tt.bign, tt.bigp
             |  FROM c, tt WHERE c.nl < tt.bign),
             |sc AS (SELECT v,
             |    round(((${xlx("bign")} - ${xlx("bigp")}
             |        - ${xlx("bign - bigp")})
             |      - (${xlx("nl")} - ${xlx("pl")} - ${xlx("nl - pl")})
             |      - (${xlx("nr")} - ${xlx("pr")} - ${xlx("nr - pr")}))
             |      / bign::DOUBLE, 9)::DECIMAL(28,9) AS ig
             |  FROM f)
             |SELECT '$f' AS feature, v AS split_value,
             |  round((ig::VARCHAR)::DOUBLE, 6) AS info_gain
             |FROM sc ORDER BY ig DESC, v ASC LIMIT 1)""".stripMargin
        s"""SELECT * FROM (
           |${one("l_quantity")}
           |UNION ALL
           |${one("l_discount")}
           |UNION ALL
           |${one("l_tax")})
           |ORDER BY feature""".stripMargin
      }),

    Q("q307_revenue_bridge",
      // FP&A revenue bridge 1995→1996 by ship year ([[graft.operators
      // .Customer.revenueBridge]]): the revenue delta decomposed into
      // per-part price effects, volume effects, new- and lost-part
      // buckets — exact by p₂q₂−p₁q₁ = (p₂−p₁)q₂ + p₁(q₂−q₁). Unit
      // prices are DOUBLE ratios of exact decimal sums; per-part
      // effect terms 4-dp DECIMAL-summed.
      (s, dir) => graft.operators.Customer.revenueBridge(
        Tables.lineitem(s, dir)
          .filter(year(col("l_shipdate")).isin(1995, 1996)),
        "l_partkey", year(col("l_shipdate")) === 1996,
        "l_extendedprice", "l_quantity"),
      """WITH pp AS (SELECT l_partkey AS e,
        |    year(l_shipdate) = 1996 AS p2,
        |    sum(l_extendedprice::DECIMAL(19,4)) AS r,
        |    sum(l_quantity::DECIMAL(19,4)) AS q
        |  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |w AS (SELECT e,
        |    max(CASE WHEN NOT p2 THEN r END) AS r1,
        |    max(CASE WHEN NOT p2 THEN q END) AS q1,
        |    max(CASE WHEN p2 THEN r END) AS r2,
        |    max(CASE WHEN p2 THEN q END) AS q2
        |  FROM pp GROUP BY 1),
        |b AS (SELECT * FROM w WHERE r1 IS NOT NULL AND r2 IS NOT NULL
        |  AND q1 > 0 AND q2 > 0),
        |eff AS (SELECT
        |    (sum(round(((r2::VARCHAR)::DOUBLE / (q2::VARCHAR)::DOUBLE
        |        - (r1::VARCHAR)::DOUBLE / (q1::VARCHAR)::DOUBLE)
        |      * (q2::VARCHAR)::DOUBLE, 4)::DECIMAL(28,4))::VARCHAR)
        |      ::DOUBLE AS price,
        |    (sum(round((r1::VARCHAR)::DOUBLE / (q1::VARCHAR)::DOUBLE
        |      * ((q2::VARCHAR)::DOUBLE - (q1::VARCHAR)::DOUBLE), 4)
        |      ::DECIMAL(28,4))::VARCHAR)::DOUBLE AS volume
        |  FROM b),
        |nl AS (SELECT
        |    (sum(CASE WHEN r1 IS NULL THEN r2 END)::VARCHAR)::DOUBLE
        |      AS newr,
        |    (sum(CASE WHEN r2 IS NULL THEN -r1 END)::VARCHAR)::DOUBLE
        |      AS lostr,
        |    ((sum(coalesce(r2, 0)) - sum(coalesce(r1, 0)))::VARCHAR)
        |      ::DOUBLE AS delta
        |  FROM w)
        |SELECT component, amount FROM (
        |  SELECT '1_price' AS component, round(price, 2) AS amount
        |  FROM eff
        |  UNION ALL SELECT '2_volume', round(volume, 2) FROM eff
        |  UNION ALL SELECT '3_new', round(coalesce(newr, 0.0), 2)
        |  FROM nl
        |  UNION ALL SELECT '4_lost', round(coalesce(lostr, 0.0), 2)
        |  FROM nl
        |  UNION ALL SELECT '5_delta_total', round(delta, 2) FROM nl)
        |ORDER BY component""".stripMargin),

    Q("q308_ship_latency",
      // Order→ship latency quantiles per return flag: exact
      // p25/p50/p75 of datediff(ship, order) via the no-global-sort
      // grid machinery — the fulfillment-SLA profile. The
      // lineitem⋈orders join shuffles once on the order key.
      (s, dir) => graft.operators.Ranks.quantileDisc(
          Tables.lineitem(s, dir)
            .join(Tables.orders(s, dir)
              .select(col("o_orderkey").as("l_orderkey"),
                col("o_orderdate")), "l_orderkey")
            .select(col("l_returnflag"),
              datediff(col("l_shipdate"), col("o_orderdate"))
                .as("days")),
          "l_returnflag", "days", Seq(0.25, 0.5, 0.75))
        .orderBy("l_returnflag", "p"),
      """WITH d AS (SELECT l.l_returnflag,
        |    datediff('day', o.o_orderdate, l.l_shipdate) AS days
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT l_returnflag, p, value FROM (
        |  SELECT l_returnflag, 0.25::DOUBLE AS p,
        |    quantile_disc(days, 0.25)::DOUBLE AS value FROM d GROUP BY 1
        |  UNION ALL
        |  SELECT l_returnflag, 0.5::DOUBLE,
        |    quantile_disc(days, 0.5)::DOUBLE FROM d GROUP BY 1
        |  UNION ALL
        |  SELECT l_returnflag, 0.75::DOUBLE,
        |    quantile_disc(days, 0.75)::DOUBLE FROM d GROUP BY 1)
        |ORDER BY l_returnflag, p""".stripMargin),

    Q("q309_ship_lead_trend",
      // Shipping lead-time trend by ORDER YEAR (calendar grid): mean
      // lead days from exact integer day sums, slow-shipment ppm
      // (> 90 days), and the YoY mean delta over the year grid —
      // the logistics SLA trend q308's distribution view summarizes.
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy("yr")
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir)
            .select(col("o_orderkey").as("l_orderkey"),
              col("o_orderdate")), "l_orderkey")
          .select(year(col("o_orderdate")).as("yr"),
            datediff(col("l_shipdate"), col("o_orderdate")).as("days"))
          .groupBy("yr")
          .agg(count(lit(1)).as("n_items"),
            sum(col("days").cast("long")).as("__sd"),
            sum(when(col("days") > 90, 1L).otherwise(0L)).as("__sl"))
          .select(col("yr"), col("n_items"),
            round(col("__sd").cast("double")
              / col("n_items").cast("double"), 6).as("mean_days"),
            expr("(__sl * 1000000) div n_items").as("slow_ppm"))
          .withColumn("d_mean",
            round(col("mean_days") - lag("mean_days", 1).over(w), 6))
          .orderBy("yr")
      },
      """WITH d AS (SELECT year(o.o_orderdate)::INT AS yr,
        |    datediff('day', o.o_orderdate, l.l_shipdate) AS days
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |g AS (SELECT yr, count(*)::BIGINT AS n_items,
        |    round(sum(days)::DOUBLE / count(*)::DOUBLE, 6) AS mean_days,
        |    (sum(CASE WHEN days > 90 THEN 1 ELSE 0 END)::BIGINT
        |      * 1000000) // count(*) AS slow_ppm
        |  FROM d GROUP BY 1)
        |SELECT yr, n_items, mean_days, slow_ppm,
        |  round(mean_days - lag(mean_days) OVER (ORDER BY yr), 6)
        |    AS d_mean
        |FROM g ORDER BY yr""".stripMargin),

    Q("q310_churn_scorecard",
      // Churn-risk scorecard per market segment: recency = days from
      // each customer's last order to the corpus max date (broadcast
      // 1-row), at-risk = recency > 400 days, median recency from the
      // exact grid machinery. Integer day math + ppm rates — the
      // retention-ops view beside q252's RFM cube.
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val maxD = broadcast(o.agg(max(col("o_orderdate")).as("mx")))
        val perC = o.groupBy(col("o_custkey"))
          .agg(max(col("o_orderdate")).as("last_o"))
          .crossJoin(maxD)
          .select(col("o_custkey"),
            datediff(col("mx"), col("last_o")).as("rec"))
          .join(Tables.customer(s, dir)
            .select(col("c_custkey").as("o_custkey"),
              col("c_mktsegment")), "o_custkey")
          .localCheckpoint(true)
        val med = graft.operators.Ranks.quantileDisc(
            perC, "c_mktsegment", "rec", Seq(0.5))
          .select(col("c_mktsegment"),
            col("value").cast("long").as("median_recency_days"))
        perC.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
            sum(when(col("rec") > 400, 1L).otherwise(0L)).as("__ar"))
          .join(med, "c_mktsegment")
          .select(col("c_mktsegment"), col("n_customers"),
            expr("(__ar * 1000000) div n_customers").as("at_risk_ppm"),
            col("median_recency_days"))
          .orderBy("c_mktsegment")
      },
      """WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |pc AS (SELECT o.o_custkey,
        |    datediff('day', max(o.o_orderdate), mx.mx) AS rec
        |  FROM orders o, mx GROUP BY o.o_custkey, mx.mx),
        |j AS (SELECT c.c_mktsegment, pc.rec FROM pc
        |  JOIN customer c ON c.c_custkey = pc.o_custkey)
        |SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
        |  (sum(CASE WHEN rec > 400 THEN 1 ELSE 0 END)::BIGINT
        |    * 1000000) // count(*) AS at_risk_ppm,
        |  quantile_disc(rec, 0.5)::BIGINT AS median_recency_days
        |FROM j GROUP BY 1 ORDER BY c_mktsegment""".stripMargin),

    Q("q311_supplier_hhi",
      // Supplier-concentration audit: Herfindahl–Hirschman index of
      // supplier revenue shares per nation (sum of squared shares;
      // 10000-scale — >2500 = highly concentrated). Shares are
      // identical doubles of exact decimal sums; per-supplier terms
      // round to 6 dp and DECIMAL-sum per nation. One scan + one
      // broadcast-joined supplier dimension.
      (s, dir) => {
        val rev = Tables.lineitem(s, dir)
          .groupBy(col("l_suppkey"))
          .agg(sum(col("l_extendedprice")
            .cast(org.apache.spark.sql.types.DecimalType(19, 4)))
            .as("r"))
          .join(broadcast(Tables.supplier(s, dir)
            .select(col("s_suppkey").as("l_suppkey"),
              col("s_nationkey"))), "l_suppkey")
        val nat = rev.groupBy("s_nationkey")
          .agg(sum(col("r")).as("nr"))
        rev.join(nat, "s_nationkey")
          .select(col("s_nationkey"),
            round(col("r").cast("double") / col("nr").cast("double")
                * (col("r").cast("double") / col("nr").cast("double"))
                * 10000.0, 6)
              .cast(org.apache.spark.sql.types.DecimalType(28, 6))
              .as("__t"))
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_suppliers"),
            round(sum(col("__t")).cast("double"), 2).as("hhi"))
          .orderBy("s_nationkey")
      },
      """WITH rev AS (SELECT l_suppkey,
        |    sum(l_extendedprice::DECIMAL(19,4)) AS r
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT s.s_nationkey, rev.r FROM rev
        |  JOIN supplier s ON s.s_suppkey = rev.l_suppkey),
        |nat AS (SELECT s_nationkey, sum(r) AS nr FROM j GROUP BY 1),
        |t AS (SELECT j.s_nationkey,
        |    round((j.r::VARCHAR)::DOUBLE / (nat.nr::VARCHAR)::DOUBLE
        |      * ((j.r::VARCHAR)::DOUBLE / (nat.nr::VARCHAR)::DOUBLE)
        |      * 10000.0, 6)::DECIMAL(28,6) AS t
        |  FROM j JOIN nat USING (s_nationkey))
        |SELECT s_nationkey, count(*)::BIGINT AS n_suppliers,
        |  round((sum(t)::VARCHAR)::DOUBLE, 2) AS hhi
        |FROM t GROUP BY 1 ORDER BY s_nationkey""".stripMargin),

    Q("q312_eta_squared",
      // Which dimension explains order value ([[graft.operators
      // .AbTest.etaSquared]]): η² = SSB/SST of o_totalprice by market
      // segment, order priority, and order year — one exact-decimal
      // moment scan per dimension, cross-group sums 6-dp
      // DECIMAL-summed (q272's discipline). Dimensional triage before
      // any modeling.
      (s, dir) => graft.operators.AbTest.etaSquared(
        Tables.orders(s, dir)
          .join(broadcast(Tables.customer(s, dir)
            .select(col("c_custkey").as("o_custkey"),
              col("c_mktsegment"))), "o_custkey")
          .withColumn("order_year",
            year(col("o_orderdate")).cast("string")),
        Seq("c_mktsegment", "o_orderpriority", "order_year"),
        "o_totalprice"),
      {
        def one(dim: String, expr0: String) =
          s"""(WITH m AS (SELECT $expr0 AS g, count(*)::BIGINT AS nn,
             |    (sum(o_totalprice::DECIMAL(19,4))::VARCHAR)::DOUBLE
             |      AS s,
             |    (sum(o_totalprice::DECIMAL(19,4)
             |      * o_totalprice::DECIMAL(19,4))::VARCHAR)::DOUBLE
             |      AS q
             |  FROM orders o JOIN customer c
             |    ON c.c_custkey = o.o_custkey
             |  GROUP BY 1),
             |t AS (SELECT nn,
             |    round(s, 6)::DECIMAL(38,6) AS sd,
             |    round(s * s / nn::DOUBLE, 6)::DECIMAL(38,6) AS tt,
             |    round(q, 6)::DECIMAL(38,6) AS qd
             |  FROM m),
             |a AS (SELECT count(*)::BIGINT AS k, sum(nn)::BIGINT AS n,
             |    (sum(sd)::VARCHAR)::DOUBLE AS s,
             |    (sum(qd)::VARCHAR)::DOUBLE AS q,
             |    (sum(tt)::VARCHAR)::DOUBLE AS ssb_part
             |  FROM a0)
             |SELECT '$dim' AS dimension, k AS k_levels,
             |  round((ssb_part - s * s / n::DOUBLE)
             |    / (q - s * s / n::DOUBLE), 6) AS eta2
             |FROM a)""".stripMargin.replace("FROM a0)", "FROM t)")
        s"""SELECT * FROM (
           |${one("c_mktsegment", "c.c_mktsegment")}
           |UNION ALL
           |${one("o_orderpriority", "o.o_orderpriority")}
           |UNION ALL
           |${one("order_year", "year(o.o_orderdate)::VARCHAR")})
           |ORDER BY dimension""".stripMargin
      }),

    Q("q313_activity_heatmap",
      // Weekday × hour activity heatmap of events — the ops-dashboard
      // staple: one partial-agg groupBy to the fixed 168-cell grid,
      // exact counts + truncated-ppm share of total (broadcast 1-row).
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select((dayofweek(col("ts")) - 1).as("dow"),
            hour(col("ts")).as("hr"))
        val tot = broadcast(ev.agg(count(lit(1)).as("__t")))
        ev.groupBy("dow", "hr").agg(count(lit(1)).as("n_events"))
          .crossJoin(tot)
          .select(col("dow"), col("hr"), col("n_events"),
            expr("(n_events * 1000000) div __t").as("share_ppm"))
          .orderBy("dow", "hr")
      },
      """WITH e AS (SELECT dayofweek(ts)::INT AS dow,
        |    hour(ts)::INT AS hr FROM events),
        |t AS (SELECT count(*)::BIGINT AS t FROM e),
        |g AS (SELECT dow, hr, count(*)::BIGINT AS n_events FROM e
        |  GROUP BY 1, 2)
        |SELECT g.dow, g.hr, g.n_events,
        |  (g.n_events * 1000000) // t.t AS share_ppm
        |FROM g, t ORDER BY dow, hr""".stripMargin),

    Q("q314_interarrival_check",
      // Memorylessness audit: per event type, per-user inter-arrival
      // gaps (user-partitioned lag — never a corpus window), exact
      // integer-second mean and grid median, and the
      // median/(mean·ln 2) ratio — ≈ 1 for a Poisson process, ≪ 1
      // for bursty users. Gap sums are exact longs; the only float
      // work is three divisions on the per-type frame.
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type")
          .orderBy(col("s").asc, col("event_id").asc)
        val gaps = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_timestamp(date_trunc("second", col("ts"))).as("s"))
          .withColumn("g", col("s") - lag("s", 1).over(w))
          .filter(col("g").isNotNull)
          .select(col("event_type"), col("g"))
          .localCheckpoint(true)
        val med = graft.operators.Ranks.quantileDisc(
            gaps, "event_type", "g", Seq(0.5))
          .select(col("event_type"),
            col("value").cast("long").as("median_s"))
        gaps.groupBy("event_type")
          .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("__sg"))
          .join(med, "event_type")
          .select(col("event_type"), col("n_gaps"),
            round(col("__sg").cast("double")
              / col("n_gaps").cast("double"), 6).as("mean_s"),
            col("median_s"),
            round(col("median_s").cast("double")
              / (col("__sg").cast("double")
                / col("n_gaps").cast("double") * 0.6931471805599453),
              6).as("memoryless_ratio"))
          .orderBy("event_type")
      },
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch(date_trunc('second', ts))::BIGINT AS s FROM events),
        |g0 AS (SELECT event_type,
        |    s - lag(s) OVER (PARTITION BY user_id, event_type
        |      ORDER BY s, event_id) AS g
        |  FROM e),
        |g AS (SELECT event_type, g FROM g0 WHERE g IS NOT NULL)
        |SELECT event_type, count(*)::BIGINT AS n_gaps,
        |  round(sum(g)::DOUBLE / count(*)::DOUBLE, 6) AS mean_s,
        |  quantile_disc(g, 0.5)::BIGINT AS median_s,
        |  round(quantile_disc(g, 0.5)::DOUBLE
        |    / (sum(g)::DOUBLE / count(*)::DOUBLE
        |      * 0.6931471805599453), 6) AS memoryless_ratio
        |FROM g GROUP BY 1 ORDER BY event_type""".stripMargin),

    Q("q315_revenue_var",
      // Empirical daily-revenue value-at-risk and expected shortfall
      // at p = 1/16 (BINARY-EXACT — ⌈p·n⌉ agrees across engines; the
      // 0.05 convention does not survive float ceil): the worst-tail
      // risk readout on the calendar grid. VaR from the exact grid
      // quantile; ES = decimal mean of the days at or below it.
      (s, dir) => {
        val daily = Tables.orders(s, dir)
          .select(date_trunc("day", col("o_orderdate")).as("d"),
            col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("v"))
          .groupBy("d").agg(sum(col("v")).as("x"))
          .withColumn("g", lit("all")).localCheckpoint(true)
        val v = graft.operators.Ranks.quantileDisc(
            daily.select(col("g"), col("x").cast("double").as("xd")),
            "g", "xd", Seq(0.0625))
          .select(col("value").as("var_p"))
        daily.crossJoin(broadcast(v))
          .agg(count(lit(1)).as("n_days"), max(col("var_p")).as("vp"),
            sum(when(col("x").cast("double") <= col("var_p"),
              col("x"))).as("__st"),
            sum(when(col("x").cast("double") <= col("var_p"), 1L)
              .otherwise(0L)).as("__nt"))
          .select(col("n_days"), round(col("vp"), 2).as("var_6p25"),
            round(col("__st").cast("double")
              / col("__nt").cast("double"), 6)
              .as("expected_shortfall"))
      },
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS d,
        |    sum(o_totalprice::DECIMAL(18,2)) AS x
        |  FROM orders GROUP BY 1),
        |v AS (SELECT quantile_disc(x::DOUBLE, 0.0625) AS vp
        |  FROM daily)
        |SELECT count(*)::BIGINT AS n_days,
        |  round(v.vp, 2) AS var_6p25,
        |  round((sum(CASE WHEN x::DOUBLE <= v.vp THEN x END)
        |      ::VARCHAR)::DOUBLE
        |    / sum(CASE WHEN x::DOUBLE <= v.vp THEN 1 ELSE 0 END)
        |      ::DOUBLE, 6) AS expected_shortfall
        |FROM daily, v GROUP BY v.vp""".stripMargin),

    Q("q316_csv_roundtrip",
      // S7 CSV ingest as a driver-gated query (was spec-only): dump
      // nation to CSV (quoted, whitespace-preserving), ingest through
      // [[graft.table.ParquetCatalog.insertFromCsv]] (header + string
      // schema + fillna("") — the reference's pd.read_csv contract,
      // postgres.py:148-224), read the catalog table back. The oracle
      // reads the ORIGINAL parquet, so any CSV fidelity loss
      // (quoting, whitespace, null handling) hash-fails.
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_csvrt_").toString
        val csvDir = tmp + "/nation_csv"
        LocalFs.write(Tables.nation(s, dir).coalesce(1))
          .option("header", "true")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
          .mode("overwrite").csv(csvDir)
        val cat = graft.table.ParquetCatalog(s, tmp + "/cat")
        cat.insertFromCsv("nation_rt", csvDir)
        cat.table("nation_rt")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey")
      },
      """SELECT n_nationkey::VARCHAR AS n_nationkey, n_name,
        |  n_regionkey::VARCHAR AS n_regionkey
        |FROM nation ORDER BY n_nationkey::VARCHAR""".stripMargin),

    Q("q317_catalog_list",
      // D3/D6/P4 catalog listing as a driver-gated query (was
      // spec-only): one catalog table per region (names derived from
      // the data), plus crashed-staging and protocol-dir decoys the
      // listing must hide (postgres.py ORDER BY table_name parity +
      // the engine's swap-healing discipline). The 5-row region
      // collect is metadata by construction.
      (s, dir) => {
        import s.implicits._
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_cat_").toString
        val cat = graft.table.ParquetCatalog(s, tmp)
        val names = Tables.region(s, dir)
          .select(lower(col("r_name")).as("n")).orderBy("n")
          .collect().map(r => "tbl_" + r.getString(0).replace(' ', '_'))
        names.foreach(n => cat.createTable(n,
          new org.apache.spark.sql.types.StructType().add("id", "string")))
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(tmp + "/junk__tmp_delete"))
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(tmp + "/.protocol"))
        cat.listTables().toDF("name").orderBy("name")
      },
      """SELECT 'tbl_' || replace(lower(r_name), ' ', '_') AS name
        |FROM region ORDER BY name""".stripMargin),

    Q("q318_table_lifecycle",
      // D1/D2/D5 lifecycle as a driver-gated query (was spec-only):
      // insert-create from the BUILDING customers, drop, recreate
      // empty from the schema; each step reports (exists, row count).
      // Counts are the oracle's own aggregates over customer.
      (s, dir) => {
        import s.implicits._
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_lc_").toString
        val cat = graft.table.ParquetCatalog(s, tmp)
        val sub = Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")
        cat.insert("cust_building", sub)
        val r1 = ("created", cat.tableExists("cust_building"),
          cat.table("cust_building").count())
        cat.dropTable("cust_building")
        val r2 = ("dropped", cat.tableExists("cust_building"), 0L)
        cat.createTable("cust_building", sub.schema)
        val r3 = ("recreated", cat.tableExists("cust_building"),
          cat.table("cust_building").count())
        Seq(r1, r2, r3).toDF("step", "table_exists", "n_rows")
          .orderBy("step")
      },
      """SELECT * FROM (
        |  SELECT 'created' AS step, CAST(1 AS BOOLEAN) AS table_exists,
        |    (SELECT count(*) FROM customer
        |     WHERE c_mktsegment = 'BUILDING')::BIGINT AS n_rows
        |  UNION ALL SELECT 'dropped', CAST(0 AS BOOLEAN), 0::BIGINT
        |  UNION ALL SELECT 'recreated', CAST(1 AS BOOLEAN), 0::BIGINT)
        |ORDER BY step""".stripMargin),

    Q("q319_select_by_key",
      // S9/P1 keyed lookup through the catalog as a driver-gated query
      // (was spec-only): orders subset stored with a STRING key (the
      // reference's RDB keys are text), selectByKey's equality filter
      // reaches the parquet scan. Key = min qualifying orderkey —
      // data-derived, one-scalar metadata action.
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_sbk_").toString
        val cat = graft.table.ParquetCatalog(s, tmp)
        val sub = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 32 === 0)
          .select(col("o_orderkey").cast("string").as("o_orderkey"),
            col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
        cat.insert("orders_k", sub)
        val key = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 32 === 0)
          .agg(min("o_orderkey")).head().getLong(0).toString
        cat.selectByKey("orders_k", "o_orderkey", key)
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey::VARCHAR AS o_orderkey, o_custkey,
        |  o_totalprice, o_orderdate
        |FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders
        |                    WHERE o_orderkey % 32 = 0)
        |ORDER BY o_orderkey""".stripMargin),

    Q("q320_es_bulk_export",
      // S8 interop leg as a driver-gated roundtrip: export the English
      // documents through the `es-bulk` DSv2 sink ([[graft.sources
      // .EsBulkDataSource]] — the reference's helpers.bulk NDJSON
      // protocol, elasticsearch_index.py:122-172, against the
      // filesystem transport double), then parse the landed bulk
      // payloads back: any action-line, chunking, or JSON-fidelity
      // defect hash-fails against the plain relational oracle.
      (s, dir) => {
        val out = java.nio.file.Files
          .createTempDirectory("graft_esx_").toString
        val sub = Tables.documents(s, dir)
          .filter(col("lang") === "en")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        sub.write.format("es-bulk")
          .option("es.resource", "documents")
          .option("es.nodes", out)
          .option("es.mapping.id", "doc_id")
          .mode("append").save()
        s.read.text(s"$out/*.ndjson")
          .filter(!col("value").startsWith("{\"index\":{\"_index\":"))
          .select(from_json(col("value"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("lang",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("n_chars",
                org.apache.spark.sql.types.LongType)))).as("d"))
          .select(col("d.doc_id").as("doc_id"), col("d.lang").as("lang"),
            col("d.n_chars").as("n_chars"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin),

    Q("q321_rmst",
      // Restricted mean survival time at an 8-week horizon
      // ([[graft.operators.Survival.rmstDaily]]): area under q234's KM
      // step curve — "average days to conversion within 56" with
      // censoring handled; the scalar the KM table summarizes to.
      // Segment areas are 6-dp survival × integer clamped lengths,
      // DECIMAL-summed; grid math only past the one unit reduction.
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val cens = ev
          .select(unix_timestamp(date_trunc("second", col("ts"))).as("sv"))
          .agg(max(col("sv")).as("cend"))
        graft.operators.Survival.rmstDaily(
          graft.operators.Survival.viewToPurchase(ev)
            .crossJoin(broadcast(cens)),
          "t0", "tp", col("cend"), tauDays = 56L)
      },
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch(date_trunc('second', ts))::BIGINT AS s FROM events),
        |ce AS (SELECT max(s)::BIGINT AS cend FROM ev),
        |v AS (SELECT user_id, min(s) AS t0 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |b AS (SELECT user_id, min(s) AS tp_any FROM ev
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |u AS (SELECT v.t0,
        |    CASE WHEN b.tp_any > v.t0 THEN b.tp_any END AS tp
        |  FROM v LEFT JOIN b USING (user_id)),
        |du AS (SELECT floor((coalesce(tp, ce.cend) - t0) / 86400.0)::BIGINT
        |    AS dur, tp IS NOT NULL AS ev FROM u, ce),
        |g AS (SELECT dur,
        |    sum(CASE WHEN ev THEN 1 ELSE 0 END)::BIGINT AS n_event,
        |    count(*)::BIGINT AS n_at FROM du GROUP BY dur),
        |r AS (SELECT dur, n_event, sum(n_at) OVER (ORDER BY dur DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS n_risk FROM g),
        |f AS (SELECT dur, n_event, n_risk,
        |    CASE WHEN n_event < n_risk THEN
        |      round(ln(1.0 - n_event::DOUBLE / n_risk::DOUBLE), 9)
        |        ::DECIMAL(28,9) END AS lnt
        |  FROM r WHERE n_event > 0),
        |k AS (SELECT dur,
        |    max(CASE WHEN n_event = n_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY dur
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
        |    sum(lnt) OVER (ORDER BY dur
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cln
        |  FROM f),
        |km AS (SELECT dur AS d, CASE WHEN dead = 1 THEN 0.0
        |    ELSE round(exp(cln::DOUBLE), 6) END AS survival FROM k),
        |seg AS (SELECT round(
        |    coalesce(lag(survival) OVER (ORDER BY d), 1.0) *
        |    (least(d, 56) - least(coalesce(lag(d) OVER (ORDER BY d), 0),
        |      56))::DOUBLE, 6)::DECIMAL(28,6) AS a FROM km),
        |tl AS (SELECT round(survival * (56 - least(d, 56))::DOUBLE, 6)
        |    ::DECIMAL(28,6) AS t FROM km ORDER BY d DESC LIMIT 1)
        |SELECT 56::BIGINT AS horizon_days,
        |  (SELECT count(*) FROM km)::BIGINT AS n_event_days,
        |  round(((SELECT coalesce(sum(a), 0::DECIMAL(28,6)) FROM seg)
        |    + coalesce((SELECT t FROM tl),
        |        round(56.0, 6)::DECIMAL(28,6)))::DOUBLE, 6)
        |    AS rmst_days""".stripMargin),

    Q("q322_did",
      // Difference-in-differences ([[graft.operators.Causal
      // .diffInDiffs]]): BUILDING-segment customers "treated" from
      // 1996-01-01, order value as outcome — the 2x2 panel causal
      // readout with the unpooled delta-method SE. One partial-agg
      // scan to the 4-cell moment grid, then 1-row algebra.
      (s, dir) => graft.operators.Causal.diffInDiffs(
        Tables.orders(s, dir)
          .join(broadcast(Tables.customer(s, dir)
            .select(col("c_custkey").as("o_custkey"),
              col("c_mktsegment"))), "o_custkey"),
        col("c_mktsegment") === "BUILDING",
        col("o_orderdate") >= lit("1996-01-01").cast("date"),
        "o_totalprice"),
      """WITH j AS (SELECT (c.c_mktsegment = 'BUILDING') AS t,
        |    (o.o_orderdate >= DATE '1996-01-01') AS p,
        |    o.o_totalprice::DECIMAL(18,4) AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |cells AS (SELECT t, p, count(*)::BIGINT AS n, sum(y) AS s,
        |    sum(y::DECIMAL(28,4) * y) AS q FROM j GROUP BY 1, 2),
        |w AS (SELECT
        |    max(CASE WHEN t AND p THEN n END) AS ntp,
        |    max(CASE WHEN t AND p THEN (s::VARCHAR)::DOUBLE END) AS stp,
        |    max(CASE WHEN t AND p THEN (q::VARCHAR)::DOUBLE END) AS qtp,
        |    max(CASE WHEN t AND NOT p THEN n END) AS nt0,
        |    max(CASE WHEN t AND NOT p THEN (s::VARCHAR)::DOUBLE END) AS st0,
        |    max(CASE WHEN t AND NOT p THEN (q::VARCHAR)::DOUBLE END) AS qt0,
        |    max(CASE WHEN NOT t AND p THEN n END) AS ncp,
        |    max(CASE WHEN NOT t AND p THEN (s::VARCHAR)::DOUBLE END) AS scp,
        |    max(CASE WHEN NOT t AND p THEN (q::VARCHAR)::DOUBLE END) AS qcp,
        |    max(CASE WHEN NOT t AND NOT p THEN n END) AS nc0,
        |    max(CASE WHEN NOT t AND NOT p THEN (s::VARCHAR)::DOUBLE END)
        |      AS sc0,
        |    max(CASE WHEN NOT t AND NOT p THEN (q::VARCHAR)::DOUBLE END)
        |      AS qc0
        |  FROM cells),
        |e AS (SELECT ntp, nt0, ncp, nc0,
        |    (stp / ntp::DOUBLE - st0 / nt0::DOUBLE)
        |      - (scp / ncp::DOUBLE - sc0 / nc0::DOUBLE) AS did,
        |    sqrt(
        |      ((qtp - stp * stp / ntp::DOUBLE) / (ntp::DOUBLE - 1.0))
        |        / ntp::DOUBLE
        |      + ((qt0 - st0 * st0 / nt0::DOUBLE) / (nt0::DOUBLE - 1.0))
        |        / nt0::DOUBLE
        |      + ((qcp - scp * scp / ncp::DOUBLE) / (ncp::DOUBLE - 1.0))
        |        / ncp::DOUBLE
        |      + ((qc0 - sc0 * sc0 / nc0::DOUBLE) / (nc0::DOUBLE - 1.0))
        |        / nc0::DOUBLE) AS se
        |  FROM w)
        |SELECT ntp AS n_t_post, nt0 AS n_t_pre, ncp AS n_c_post,
        |  nc0 AS n_c_pre, round(did, 6) AS did, round(se, 6) AS se,
        |  round(did / se, 6) AS t_stat FROM e""".stripMargin),

    Q("q323_vocab_coverage",
      // Train-vocabulary OOV profile of the held-out split per
      // language ([[graft.text.TextAnalysis.vocabCoverage]]): token
      // instances and distinct types absent from the even-doc
      // training vocabulary, integer-ppm rates — the distribution-
      // shift smoke test before freezing a tokenizer or split. One
      // tokenizer pass; vocabulary membership is a linear hash join.
      (s, dir) => graft.text.TextAnalysis.vocabCoverage(
        Tables.documents(s, dir), "text", "lang",
        col("doc_id") % 2 === 0),
      s"""WITH toks AS (SELECT lang, (doc_id % 2 = 0) AS tr,
         |    unnest($toksSql) AS tok FROM documents),
         |v AS (SELECT DISTINCT tok FROM toks WHERE tr),
         |t AS (SELECT lang, tk.tok, (v.tok IS NOT NULL) AS inv
         |  FROM (SELECT lang, tok FROM toks WHERE NOT tr) tk
         |  LEFT JOIN v ON tk.tok = v.tok),
         |inst AS (SELECT lang, count(*)::BIGINT AS n_tokens,
         |    sum(CASE WHEN NOT inv THEN 1 ELSE 0 END)::BIGINT
         |      AS oov_tokens
         |  FROM t GROUP BY 1),
         |ty AS (SELECT lang, count(*)::BIGINT AS n_types,
         |    sum(CASE WHEN NOT inv THEN 1 ELSE 0 END)::BIGINT
         |      AS oov_types
         |  FROM (SELECT DISTINCT lang, tok, inv FROM t) GROUP BY 1)
         |SELECT lang, n_tokens, oov_tokens,
         |  (oov_tokens * 1000000) // n_tokens AS oov_ppm,
         |  n_types, oov_types,
         |  (oov_types * 1000000) // n_types AS oov_type_ppm
         |FROM inst JOIN ty USING (lang) ORDER BY lang""".stripMargin),

    Q("q324_code_detection",
      // Code-likeness audit per source ([[graft.text.TextAnalysis
      // .codeDetection]]): integer code-symbol density + distinct
      // keyword hits, flag rule symbol_ppm >= 2% OR >= 2 keywords —
      // the code/prose separator a pretraining mixture audit needs.
      // One scan, one partial-agg groupBy; all-integer math.
      (s, dir) => graft.text.TextAnalysis.codeDetection(
        Tables.documents(s, dir), "text", "source"),
      s"""WITH f AS (SELECT source, length(text)::BIGINT AS n,
         |    (length(text) - length(regexp_replace(text,
         |      '[{}();=<>\\[\\]]', '', 'g')))::BIGINT AS sym,
         |    len(list_intersect($toksSql,
         |      ['def','return','import','class','if','else','for',
         |       'while','var','val','function']))::BIGINT AS kw
         |  FROM documents),
         |s AS (SELECT source,
         |    CASE WHEN n > 0 THEN (sym * 1000000) // n ELSE 0 END AS sp,
         |    kw FROM f),
         |c AS (SELECT source, sp,
         |    CASE WHEN sp >= 20000 OR kw >= 2 THEN 1 ELSE 0 END AS c
         |  FROM s)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(c)::BIGINT AS n_code,
         |  (sum(c)::BIGINT * 1000000) // count(*) AS code_ppm,
         |  sum(sp)::BIGINT // count(*) AS mean_symbol_ppm
         |FROM c GROUP BY source ORDER BY source""".stripMargin),

    Q("q325_freq_of_freqs",
      // Good-Turing frequency-of-frequencies profile
      // ([[graft.text.TextAnalysis.freqOfFreqs]]): n_r 3-GRAM types
      // at count r and the Turing-adjusted r* = (r+1) n_{r+1}/n_r for
      // r <= 8 — the raw material of count-based LM smoothing and the
      // unseen-mass diagnostic (~n_1/N). Two partial-agg groupBys to
      // a grid; r* is one double division rounded to 6 dp.
      (s, dir) => graft.text.TextAnalysis.freqOfFreqs(
        Tables.documents(s, dir), "text"),
      s"""WITH t AS (SELECT $toksSql AS l FROM documents),
         |toks AS (SELECT unnest($shinglesSql) AS tok FROM t),
         |cnt AS (SELECT tok, count(*)::BIGINT AS r FROM toks GROUP BY 1),
         |nr AS (SELECT r, count(*)::BIGINT AS n_r FROM cnt GROUP BY 1)
         |SELECT a.r, a.n_r,
         |  round((a.r + 1)::DOUBLE * b.n_r::DOUBLE / a.n_r::DOUBLE, 6)
         |    AS r_star
         |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
         |WHERE a.r <= 8 ORDER BY a.r""".stripMargin),

    Q("q326_sequential_monitor",
      // Sequential two-proportion A/B monitor ([[graft.operators
      // .AbTest.sequentialZ]]): cumulative pooled z on the day grid
      // with the first |z| >= 2.5 crossing day — "when could this
      // experiment have stopped" (peeking-aware, constant Pocock-ish
      // boundary). One partial-agg scan; exact-integer cumulative
      // counts on the calendar grid make every z engine-identical.
      (s, dir) => graft.operators.AbTest.sequentialZ(
        Tables.orders(s, dir), "o_orderdate",
        col("o_custkey") % 2 === 1,
        col("o_totalprice") > 150000.0, zBound = 2.5),
      """WITH daily AS (SELECT o_orderdate AS d,
        |    sum(CASE WHEN o_custkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS nt,
        |    sum(CASE WHEN o_custkey % 2 = 1 AND o_totalprice > 150000
        |      THEN 1 ELSE 0 END)::BIGINT AS st,
        |    sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS nc,
        |    sum(CASE WHEN o_custkey % 2 = 0 AND o_totalprice > 150000
        |      THEN 1 ELSE 0 END)::BIGINT AS sc
        |  FROM orders GROUP BY 1),
        |cum AS (SELECT d, sum(nt) OVER w AS NT, sum(st) OVER w AS ST,
        |    sum(nc) OVER w AS NC, sum(sc) OVER w AS SC
        |  FROM daily WINDOW w AS (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |z AS (SELECT d, NT, NC,
        |    (ST::DOUBLE / NT::DOUBLE - SC::DOUBLE / NC::DOUBLE) /
        |    sqrt(((ST + SC)::DOUBLE / (NT::DOUBLE + NC::DOUBLE))
        |      * (1.0 - (ST + SC)::DOUBLE / (NT::DOUBLE + NC::DOUBLE))
        |      * (1.0 / NT::DOUBLE + 1.0 / NC::DOUBLE)) AS z
        |  FROM cum WHERE NT > 0 AND NC > 0),
        |zz AS (SELECT * FROM z WHERE z IS NOT NULL AND NOT isnan(z))
        |SELECT (SELECT count(*) FROM zz)::BIGINT AS n_days,
        |  (SELECT min(d) FROM zz WHERE abs(z) >= 2.5)
        |    AS first_cross_day,
        |  (SELECT round(z, 6) FROM zz ORDER BY d DESC LIMIT 1)
        |    AS z_final,
        |  (SELECT (NT + NC)::BIGINT FROM zz ORDER BY d DESC LIMIT 1)
        |    AS n_final""".stripMargin),

    Q("q327_cem_att",
      // Coarsened exact matching ATT ([[graft.operators.Causal
      // .cemAtt]]): heavy-clicker (>= 14 clicks) → purchase-revenue
      // effect with activity
      // coarsened into exact cells (views div 4, errors div 2, capped
      // at 8) — the matching rung of the causal ladder between q237's
      // exact strata and q287's modeled propensity, with common-
      // support pruning reported. One partial-agg scan to the cell
      // grid; 9-dp DECIMAL-summed weighted terms.
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val per = Tables.events(s, dir).groupBy("user_id").agg(
          (sum(when(col("event_type") === "click", 1L).otherwise(0L))
            >= 14L).as("t"),
          coalesce(sum(when(col("event_type") === "purchase",
              col("value").cast(DecimalType(18, 4)))).cast("double"),
            lit(0.0)).as("y"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("v"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("e"))
        graft.operators.Causal.cemAtt(per, col("t"), "y",
          least(expr("v div 4"), lit(8L)), least(expr("e div 2"), lit(8L)))
      },
      """WITH per AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 14
        |      AS t,
        |    (coalesce(sum(CASE WHEN event_type = 'purchase'
        |        THEN value::DECIMAL(18,4) END),
        |      0::DECIMAL(18,4))::VARCHAR)::DOUBLE AS y,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      ::BIGINT AS v,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      ::BIGINT AS e
        |  FROM events GROUP BY 1),
        |cc AS (SELECT least(v // 4, 8) AS c1, least(e // 2, 8) AS c2,
        |    t, y::DECIMAL(18,4) AS yd FROM per),
        |cells AS (SELECT c1, c2,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS nt,
        |    sum(CASE WHEN t THEN yd END) AS st,
        |    sum(CASE WHEN NOT t THEN 1 ELSE 0 END)::BIGINT AS nc,
        |    sum(CASE WHEN NOT t THEN yd END) AS sc
        |  FROM cc GROUP BY 1, 2),
        |m AS (SELECT count(*)::BIGINT AS n_cells_matched,
        |    sum(nt)::BIGINT AS n_treat_matched,
        |    sum(round(((st::VARCHAR)::DOUBLE / nt::DOUBLE
        |      - (sc::VARCHAR)::DOUBLE / nc::DOUBLE) * nt::DOUBLE, 9)
        |      ::DECIMAL(28,9)) AS ws
        |  FROM cells WHERE nt > 0 AND nc > 0),
        |nv AS (SELECT sum(nt)::BIGINT AS n_treat,
        |    ((sum(st)::VARCHAR)::DOUBLE / sum(nt)::DOUBLE
        |      - (sum(sc)::VARCHAR)::DOUBLE / sum(nc)::DOUBLE) AS naive
        |  FROM cells)
        |SELECT n_treat, n_treat_matched, n_cells_matched,
        |  round((ws::VARCHAR)::DOUBLE / n_treat_matched::DOUBLE, 6)
        |    AS att_cem,
        |  round(naive, 6) AS att_naive
        |FROM nv, m""".stripMargin),

    Q("q328_frequent_itemsets",
      // Distributed A-priori frequent itemsets k ≤ 3
      // ([[graft.operators.Association.frequentItemsets]]): level-1
      // survivors broadcast-prune the basket relation (results exactly
      // unchanged by anti-monotonicity), pairs ride the in-group
      // combinations-under-cap pattern, triples extend each pair with
      // the basket's larger items — never an item×item or
      // basket×basket self-join.
      (s, dir) => graft.operators.Association.frequentItemsets(
        Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
        "l_orderkey", "l_partkey", minSupport = 2L)
        // itemset rides as a canonical '|'-joined string in the OUTPUT
        // (the oracle harness loads results through pandas, which
        // cannot sort raw array cells); the typed Array[String] shape
        // stays the operator's return type
        .withColumn("items", concat_ws("|", col("items"))),
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |    FROM lineitem WHERE l_orderkey % 4 = 0),
        |f1 AS (SELECT i, count(*)::BIGINT AS n FROM bi
        |  GROUP BY 1 HAVING count(*) >= 2),
        |bif AS (SELECT bi.b, bi.i FROM bi JOIN f1 ON bi.i = f1.i),
        |sets AS (SELECT b, list_sort(list(i)) AS items FROM bif
        |  GROUP BY b),
        |s2 AS (SELECT items FROM sets
        |  WHERE len(items) BETWEEN 2 AND 10000),
        |pi AS (SELECT items,
        |    unnest(generate_series(1, len(items))) AS i FROM s2),
        |pj AS (SELECT items, i,
        |    unnest(generate_series(i + 1, len(items))) AS j FROM pi),
        |p AS (SELECT items[i] AS x, items[j] AS y, count(*)::BIGINT AS n
        |  FROM pj GROUP BY 1, 2 HAVING count(*) >= 2),
        |pk AS (SELECT items, i, j,
        |    unnest(generate_series(j + 1, len(items))) AS k FROM pj),
        |t AS (SELECT items[i] AS x, items[j] AS y, items[k] AS z,
        |    count(*)::BIGINT AS n
        |  FROM pk GROUP BY 1, 2, 3 HAVING count(*) >= 2),
        |u AS (
        |  SELECT 1 AS k, [i::VARCHAR] AS items, n FROM f1
        |  UNION ALL
        |  SELECT 2, [x::VARCHAR, y::VARCHAR], n FROM p
        |  UNION ALL
        |  SELECT 3, [x::VARCHAR, y::VARCHAR, z::VARCHAR], n FROM t)
        |SELECT k, array_to_string(items, '|') AS items, n FROM u
        |ORDER BY k, array_to_string(items, '|')""".stripMargin),

    Q("q329_rendezvous_sharding",
      // Rendezvous (HRW) sharding rebalance audit
      // ([[graft.pipeline.Sharding.rendezvousRebalance]]): growing the
      // document layout 8 → 9 shards moves only the keys whose new
      // shard wins the md5 argmax (expected 1/9 of the corpus, vs
      // ~8/9 under mod-N) — map-only per row, the shard list rides as
      // a literal sequence, no shuffle beyond the fixed-cardinality
      // summary groupBy.
      (s, dir) => graft.pipeline.Sharding.rendezvousRebalance(
        Tables.documents(s, dir), "doc_id", from = 8, to = 9),
      s"""WITH keys AS (SELECT doc_id::VARCHAR AS key FROM documents),
         |w AS (SELECT key, s,
         |    ${md5LongSql("key || ':' || s::VARCHAR")} AS h
         |  FROM keys, generate_series(0, 8) gs(s)),
         |a AS (SELECT key,
         |    arg_max(s, h::HUGEINT * 16 + s) FILTER (WHERE s < 8)
         |      AS s_from,
         |    arg_max(s, h::HUGEINT * 16 + s) AS s_to
         |  FROM w GROUP BY key)
         |SELECT s_to::INT AS shard, count(*)::BIGINT AS n_keys,
         |  sum(CASE WHEN s_from <> s_to THEN 1 ELSE 0 END)::BIGINT
         |    AS n_moved
         |FROM a GROUP BY 1 ORDER BY shard""".stripMargin),

    Q("q330_embedding_drift",
      // Centroid drift between two snapshots of the labelled embedding
      // space ([[graft.operators.EmbeddingAudit.centroidShift]], split
      // by vec_id parity): ‖Δmean‖² per label via cross-multiplied
      // exact integer numerators and ONE final integer-rounded
      // division — the pre-reindex "did the embedder move a class?"
      // audit.
      (s, dir) => graft.operators.EmbeddingAudit.centroidShift(
        Tables.embeddings(s, dir), "embedding", EmbedDim,
        "label", col("vec_id") % 2 === 0)
        .withColumnRenamed("grp", "label"),
      s"""WITH x AS (
         |  SELECT label, vec_id % 2 = 0 AS is_old, gs.k AS k,
         |    CAST(round(round(embedding[gs.k]::DOUBLE, 6) * 1000000)
         |      AS HUGEINT) AS kv
         |  FROM embeddings, generate_series(1, $EmbedDim) gs(k)),
         |pd AS (SELECT label, k,
         |    sum(CASE WHEN is_old THEN kv ELSE 0::HUGEINT END) AS ska,
         |    sum(CASE WHEN NOT is_old THEN kv ELSE 0::HUGEINT END) AS skb,
         |    sum(CASE WHEN is_old THEN 1 ELSE 0 END)::HUGEINT AS na,
         |    sum(CASE WHEN NOT is_old THEN 1 ELSE 0 END)::HUGEINT AS nb
         |  FROM x GROUP BY 1, 2),
         |g AS (SELECT label, max(na) AS na, max(nb) AS nb,
         |    sum((ska * nb - skb * na) * (ska * nb - skb * na)) AS num
         |  FROM pd GROUP BY 1)
         |SELECT label, na::BIGINT AS n_old, nb::BIGINT AS n_new,
         |  ((2 * num + na*na*nb*nb*1000) // (2 * na*na*nb*nb*1000))::DOUBLE
         |    / 1e9 AS l2_shift_sq
         |FROM g WHERE na > 0 AND nb > 0 ORDER BY label""".stripMargin),

    Q("q331_sq8_reconstruction",
      // Per-dimension SQ8 quantization reconstruction audit
      // ([[graft.operators.EmbeddingAudit.sq8ReconstructionError]]):
      // which dimensions does the int8 ANN compression (q66/q82)
      // actually hurt? Exact integer micro-algebra end to end —
      // quantize, dequantize, and the MSE's final division all by
      // integer half-away rounding.
      (s, dir) => graft.operators.EmbeddingAudit.sq8ReconstructionError(
        Tables.embeddings(s, dir), "embedding"),
      """WITH ks AS (
        |  SELECT gs.k - 1 AS dim,
        |    CAST(round(round(embedding[gs.k]::DOUBLE, 6) * 1000000)
        |      AS HUGEINT) AS kv
        |  FROM embeddings, generate_series(1, 64) gs(k)),
        |b AS (SELECT dim, min(kv) AS lo, max(kv) AS hi,
        |    count(*)::HUGEINT AS n FROM ks GROUP BY 1),
        |e AS (SELECT ks.dim, b.n, b.lo, b.hi,
        |    ks.kv - (b.lo + (2 * (CASE WHEN b.hi = b.lo THEN 0::HUGEINT
        |      ELSE (2 * (ks.kv - b.lo) * 255 + (b.hi - b.lo))
        |        // (2 * (b.hi - b.lo)) END) * (b.hi - b.lo) + 255)
        |      // (2 * 255)) AS errm
        |  FROM ks JOIN b ON ks.dim = b.dim)
        |SELECT dim::INT AS dim, max(n)::BIGINT AS n,
        |  max(lo)::DOUBLE / 1e6 AS lo, max(hi)::DOUBLE / 1e6 AS hi,
        |  ((2 * sum(errm * errm) + max(n)) // (2 * max(n)))::DOUBLE / 1e12
        |    AS mse
        |FROM e GROUP BY 1 ORDER BY dim""".stripMargin),

    Q("q332_kn_continuation",
      // Kneser–Ney continuation counts
      // ([[graft.text.TextAnalysis.knContinuationCounts]]): distinct
      // left contexts per word over the bigram-TYPE relation — the
      // unigram statistic LM smoothing (and smarter vocab pruning)
      // uses where raw frequency misleads. One explode scan, one
      // distinct, vocabulary-scale groupBy; p_cont integer-ppm exact.
      (s, dir) => graft.text.TextAnalysis.knContinuationCounts(
        Tables.documents(s, dir), "doc_id", "text", topK = 50),
      s"""WITH t AS (SELECT doc_id, $toksSql AS l FROM documents),
         |bt AS (SELECT DISTINCT l[i] AS u, l[i + 1] AS v FROM (
         |  SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
         |  FROM t WHERE len(l) >= 2)),
         |tt AS (SELECT count(*)::BIGINT AS tt FROM bt),
         |c AS (SELECT v AS token, count(*)::BIGINT AS cont_count
         |  FROM bt GROUP BY 1)
         |SELECT token, cont_count,
         |  ((2 * cont_count * 1000000 + tt) // (2 * tt))::DOUBLE / 1e6
         |    AS p_cont
         |FROM c, tt ORDER BY cont_count DESC, token LIMIT 50"""
        .stripMargin),

    Q("q333_distinct_ngram_diversity",
      // Distinct-1 / distinct-2 diversity per source
      // ([[graft.text.TextAnalysis.distinctNgramDiversity]], Li et
      // al. 2016): the mode-collapse audit for synthetic slices — low
      // unique-bigram fraction at normal unique-unigram fraction means
      // repeated phrasing. Integer-ppm exact; per-source fixed
      // cardinality.
      (s, dir) => graft.text.TextAnalysis.distinctNgramDiversity(
        Tables.documents(s, dir), "text", "source"),
      s"""WITH t AS (SELECT source, $toksSql AS l FROM documents),
         |u AS (SELECT source, count(*)::BIGINT AS n_tokens,
         |    count(DISTINCT tok)::BIGINT AS n_distinct1
         |  FROM (SELECT source, unnest(l) AS tok FROM t) GROUP BY 1),
         |b AS (SELECT source, count(*)::BIGINT AS n_bigrams,
         |    count(DISTINCT (u2, v2))::BIGINT AS n_distinct2
         |  FROM (SELECT source, l[i] AS u2, l[i + 1] AS v2 FROM (
         |    SELECT source, l,
         |      unnest(generate_series(1, len(l) - 1)) AS i
         |    FROM t WHERE len(l) >= 2)) GROUP BY 1)
         |SELECT u.source, n_tokens, n_distinct1,
         |  (n_distinct1 * 1000000) // n_tokens AS distinct1_ppm,
         |  coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
         |  coalesce(n_distinct2, 0)::BIGINT AS n_distinct2,
         |  coalesce((n_distinct2 * 1000000) // n_bigrams, 0)::BIGINT
         |    AS distinct2_ppm
         |FROM u LEFT JOIN b USING (source) ORDER BY source"""
        .stripMargin),

    Q("q334_term_burstiness",
      // Term burstiness cf/df (Church & Gale 1995,
      // [[graft.text.TextAnalysis.termBurstiness]]): occurrences per
      // CONTAINING document — splits topical terms from background
      // vocabulary at equal raw frequency; integer-micro exact ratio.
      (s, dir) => graft.text.TextAnalysis.termBurstiness(
        Tables.documents(s, dir), "doc_id", "text",
        minDf = 5L, topK = 50),
      s"""WITH tok AS (SELECT doc_id AS doc, unnest($toksSql) AS t
         |  FROM documents),
         |cf AS (SELECT t, count(*)::BIGINT AS cf FROM tok GROUP BY 1),
         |df AS (SELECT t, count(*)::BIGINT AS df
         |  FROM (SELECT DISTINCT doc, t FROM tok) GROUP BY 1)
         |SELECT cf.t AS term, df, cf,
         |  ((2 * cf * 1000000 + df) // (2 * df))::DOUBLE / 1e6
         |    AS burstiness
         |FROM cf JOIN df ON cf.t = df.t WHERE df >= 5
         |ORDER BY burstiness DESC, term LIMIT 50""".stripMargin),

    Q("q335_path_centrality",
      // Pivot-sampled shortest-path traffic centrality
      // ([[graft.operators.Graph.pathCentrality]]): Brandes' sampled-
      // source betweenness with the rational dependency replaced by an
      // exact integer path COUNT (sigma · suffix-count) — which hubs
      // carry the co-purchase graph's shortest-path traffic. Pivots =
      // the 4 smallest vertices; 3 hops; all-integer algebra (the
      // oracle unrolls the same 3 forward levels + 2 backward sweeps).
      (s, dir) => {
        val edges = graft.operators.Graph.basketEdges(
          Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
          "l_orderkey", "l_partkey").localCheckpoint(true)
        val pivots = edges.select(col("a").as("v"))
          .unionAll(edges.select(col("b").as("v")))
          .distinct().orderBy("v").limit(4)
        graft.operators.Graph.pathCentrality(edges, pivots,
          maxHops = 3, topK = 20)
      },
      s"""WITH $GraphEdgeCtes,
         |nb AS MATERIALIZED (SELECT a AS v, b AS n FROM e0
         |  UNION ALL SELECT b AS v, a AS n FROM e0),
         |pv AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM e0
         |    UNION SELECT b AS v FROM e0) vs ORDER BY v LIMIT 4),
         |l0 AS MATERIALIZED (SELECT v AS s, v, 1::HUGEINT AS sigma
         |  FROM pv),
         |l1 AS MATERIALIZED (SELECT l0.s, nb.n AS v,
         |    sum(l0.sigma) AS sigma
         |  FROM l0 JOIN nb ON nb.v = l0.v WHERE nb.n <> l0.s
         |  GROUP BY 1, 2),
         |l2 AS MATERIALIZED (SELECT l1.s, nb.n AS v,
         |    sum(l1.sigma) AS sigma
         |  FROM l1 JOIN nb ON nb.v = l1.v
         |  WHERE NOT EXISTS (SELECT 1 FROM l0
         |      WHERE l0.s = l1.s AND l0.v = nb.n)
         |    AND NOT EXISTS (SELECT 1 FROM l1 x
         |      WHERE x.s = l1.s AND x.v = nb.n)
         |  GROUP BY 1, 2),
         |l3 AS MATERIALIZED (SELECT l2.s, nb.n AS v,
         |    sum(l2.sigma) AS sigma
         |  FROM l2 JOIN nb ON nb.v = l2.v
         |  WHERE NOT EXISTS (SELECT 1 FROM l0
         |      WHERE l0.s = l2.s AND l0.v = nb.n)
         |    AND NOT EXISTS (SELECT 1 FROM l1
         |      WHERE l1.s = l2.s AND l1.v = nb.n)
         |    AND NOT EXISTS (SELECT 1 FROM l2 x
         |      WHERE x.s = l2.s AND x.v = nb.n)
         |  GROUP BY 1, 2),
         |g3 AS MATERIALIZED (SELECT s, v, sigma, 1::HUGEINT AS g
         |  FROM l3),
         |c2 AS (SELECT l2.s, l2.v, sum(g3.g) AS cg
         |  FROM l2 JOIN nb ON nb.v = l2.v
         |  JOIN g3 ON g3.s = l2.s AND g3.v = nb.n GROUP BY 1, 2),
         |g2 AS MATERIALIZED (SELECT l2.s, l2.v, l2.sigma,
         |    1 + coalesce(c2.cg, 0) AS g
         |  FROM l2 LEFT JOIN c2 ON c2.s = l2.s AND c2.v = l2.v),
         |c1 AS (SELECT l1.s, l1.v, sum(g2.g) AS cg
         |  FROM l1 JOIN nb ON nb.v = l1.v
         |  JOIN g2 ON g2.s = l1.s AND g2.v = nb.n GROUP BY 1, 2),
         |g1 AS MATERIALIZED (SELECT l1.s, l1.v, l1.sigma,
         |    1 + coalesce(c1.cg, 0) AS g
         |  FROM l1 LEFT JOIN c1 ON c1.s = l1.s AND c1.v = l1.v)
         |SELECT v, sum(sigma * g)::BIGINT AS traffic
         |FROM (SELECT v, sigma, g FROM g1
         |  UNION ALL SELECT v, sigma, g FROM g2
         |  UNION ALL SELECT v, sigma, g FROM g3) allg
         |GROUP BY v ORDER BY traffic DESC, v LIMIT 20""".stripMargin),

    Q("q336_kneser_ney_score",
      // Interpolated Kneser–Ney bigram scoring
      // ([[graft.text.TextAnalysis.knBigramScore]]) — the benchmark
      // smoother (Chen & Goodman 1998) beside q130's MLE interpolation
      // and q293's stupid backoff: absolute discounting + continuation
      // probability (q332's statistic doing its actual LM job).
      // Per-event ln terms 9-dp DECIMAL-summed, order-free.
      (s, dir) => graft.text.TextAnalysis.knBigramScore(
        Tables.documents(s, dir), "doc_id", "text", discount = 0.75),
      s"""WITH t AS (SELECT doc_id, $toksSql AS l FROM documents),
         |bi AS (SELECT doc_id, p.u, p.v FROM (SELECT doc_id,
         |    unnest([struct_pack(u := l[i], v := l[i+1])
         |      for i in range(1, len(l))]) AS p
         |  FROM t WHERE len(l) >= 2)),
         |c2 AS (SELECT u, v, count(*)::DOUBLE AS c2 FROM bi
         |  GROUP BY 1, 2),
         |ctx AS (SELECT u, count(*)::DOUBLE AS cu,
         |    count(DISTINCT v)::DOUBLE AS n1u FROM bi GROUP BY 1),
         |ty AS (SELECT DISTINCT u, v FROM bi),
         |cont AS (SELECT v, count(*)::DOUBLE AS cv FROM ty GROUP BY 1),
         |tt AS (SELECT count(*)::DOUBLE AS tt FROM ty),
         |s AS (SELECT doc_id,
         |    round(ln((c2 - 0.75) / cu
         |      + 0.75 * n1u / cu * (cv / tt)), 9)::DECIMAL(28,9) AS lp
         |  FROM bi JOIN c2 USING (u, v) JOIN ctx USING (u)
         |    JOIN cont USING (v), tt)
         |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |  round((sum(lp)::VARCHAR)::DOUBLE / count(*)::DOUBLE, 6)
         |    AS avg_logprob,
         |  round(exp(-((sum(lp)::VARCHAR)::DOUBLE
         |    / count(*)::DOUBLE)), 6) AS ppl
         |FROM s GROUP BY 1 ORDER BY doc_id""".stripMargin),

    Q("q337_friedman_test",
      // Friedman repeated-measures rank test
      // ([[graft.operators.Ranks.friedman]]): do users (blocked into
      // 200 buckets) interact with the event types at consistently
      // different rates? Doubled average ranks keep the tie algebra
      // integer; Q ≥ 0 exactly, one unsigned integer-micro rounding.
      (s, dir) => {
        val cells = Tables.events(s, dir)
          .groupBy((col("user_id") % 200).as("block"), col("event_type"))
          .agg(count(lit(1)).as("v"))
        graft.operators.Ranks.friedman(cells, "block", "event_type", "v")
      },
      """WITH cells AS (SELECT user_id % 200 AS b, event_type AS t,
        |    count(*)::BIGINT AS v FROM events GROUP BY 1, 2),
        |kk AS (SELECT count(DISTINCT t) AS k FROM cells),
        |ok AS (SELECT b FROM cells GROUP BY b
        |  HAVING count(*) = (SELECT k FROM kk)),
        |r AS (SELECT t,
        |    2 * rank() OVER (PARTITION BY b ORDER BY v)
        |      + count(*) OVER (PARTITION BY b, v) - 1 AS r2
        |  FROM cells WHERE b IN (SELECT b FROM ok)),
        |pt AS (SELECT t, sum(r2)::HUGEINT AS rs2, count(*)::BIGINT AS n
        |  FROM r GROUP BY t),
        |a AS (SELECT count(*)::BIGINT AS k, max(n) AS n_blocks,
        |    sum(rs2 * rs2)::HUGEINT AS ss FROM pt)
        |SELECT k, n_blocks,
        |  ((2 * (3 * ss - 3 * n_blocks * n_blocks * k
        |          * (k + 1) * (k + 1)) * 1000000
        |    + n_blocks * k * (k + 1))
        |   // (2 * n_blocks * k * (k + 1)))::DOUBLE / 1e6 AS q_stat
        |FROM a""".stripMargin),

    Q("q338_bleu_pairs",
      // Clipped-count BLEU-2 with brevity penalty (Papineni et al.
      // 2002) over the minhash candidate pairs — the MULTISET
      // precision eval beside q174's set-based ROUGE-2: a repeated
      // n-gram only counts up to its multiplicity in the reference,
      // and short candidates pay exp(1 − r/c). Runs only on LSH
      // candidates (never corpus²); the n-gram count relations are
      // (doc, gram)-keyed partial aggregates. Candidate = b scored
      // against reference = a; pairs where either side has < 2 tokens
      // drop (no bigram leg).
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val toks = docs.select(col("doc_id"),
          TextFunctions.tokens(col("text")).as("l"))
          .filter(size(col("l")) >= 2)
          .localCheckpoint(false) // lens + unigram + bigram consumers
        val lens = toks.select(col("doc_id"), size(col("l")).as("n"))
        val uni = toks.select(col("doc_id"), explode(col("l")).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        val big = toks.select(col("doc_id"),
          explode(TextFunctions.shingles(col("l"), 2)).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
          .join(lens.toDF("a", "rn"), "a")
          .join(lens.toDF("b", "cn"), "b")
          .localCheckpoint(false) // two clipped-count consumers
        def clipped(grams: DataFrame, out: String) = pairs
          .select("a", "b")
          .join(grams.toDF("b", "g", "cc"), "b")
          .join(grams.toDF("a", "g", "rc"), Seq("a", "g"), "left")
          .groupBy("a", "b")
          .agg(sum(least(col("cc"), coalesce(col("rc"), lit(0L))))
            .as(out))
        pairs
          .join(clipped(uni, "m1"), Seq("a", "b"))
          .join(clipped(big, "m2"), Seq("a", "b"))
          .select(col("a"), col("b"), col("cn").as("c_len"),
            col("rn").as("r_len"), col("m1"), col("m2"),
            round(when(col("m1") === 0 || col("m2") === 0, 0.0)
              .otherwise(exp(
                least(lit(0.0), lit(1.0) - col("rn").cast("double")
                  / col("cn").cast("double"))
                  + lit(0.5) * (log(col("m1").cast("double")
                    / col("cn").cast("double"))
                  + log(col("m2").cast("double")
                    / (col("cn") - 1).cast("double"))))), 6)
              .as("bleu2"))
          .orderBy(col("bleu2").desc, col("a"), col("b"))
          .limit(30)
      },
      {
        val sh2 = "[l[i] || ' ' || l[i+1] for i in range(1, len(l))]"
        s"""WITH ${minhashPairCtes()},
           |tk AS (SELECT doc_id, $toksSql AS l FROM documents),
           |ln2 AS (SELECT doc_id, len(l)::BIGINT AS n FROM tk
           |  WHERE len(l) >= 2),
           |uni AS (SELECT doc_id, t AS g, count(*)::BIGINT AS c
           |  FROM (SELECT doc_id, unnest(l) AS t FROM tk
           |    WHERE len(l) >= 2) u GROUP BY 1, 2),
           |bi AS (SELECT doc_id, t AS g, count(*)::BIGINT AS c
           |  FROM (SELECT doc_id, unnest($sh2) AS t FROM tk
           |    WHERE len(l) >= 2) u GROUP BY 1, 2),
           |pp AS (SELECT p.a, p.b, ra.n AS rn, cb.n AS cn
           |  FROM pairs p JOIN ln2 ra ON ra.doc_id = p.a
           |  JOIN ln2 cb ON cb.doc_id = p.b),
           |m1 AS (SELECT pp.a, pp.b,
           |    sum(least(cu.c, coalesce(ru.c, 0)))::BIGINT AS m1
           |  FROM pp JOIN uni cu ON cu.doc_id = pp.b
           |  LEFT JOIN uni ru ON ru.doc_id = pp.a AND ru.g = cu.g
           |  GROUP BY 1, 2),
           |m2 AS (SELECT pp.a, pp.b,
           |    sum(least(cu.c, coalesce(ru.c, 0)))::BIGINT AS m2
           |  FROM pp JOIN bi cu ON cu.doc_id = pp.b
           |  LEFT JOIN bi ru ON ru.doc_id = pp.a AND ru.g = cu.g
           |  GROUP BY 1, 2)
           |SELECT a, b, cn AS c_len, rn AS r_len, m1, m2,
           |  round(CASE WHEN m1 = 0 OR m2 = 0 THEN 0.0
           |    ELSE exp(least(0.0, 1.0 - rn::DOUBLE / cn::DOUBLE)
           |      + 0.5 * (ln(m1::DOUBLE / cn::DOUBLE)
           |        + ln(m2::DOUBLE / (cn - 1)::DOUBLE))) END, 6)
           |    AS bleu2
           |FROM pp JOIN m1 USING (a, b) JOIN m2 USING (a, b)
           |ORDER BY bleu2 DESC, a, b LIMIT 30""".stripMargin
      }),

    Q("q339_cochran_q",
      // Cochran's Q ([[graft.pipeline.WeakLabels.cochranQ]]): McNemar
      // generalized to k paired binary judgments — do the five event
      // types hit a high-value max (≥ 180) at consistently different
      // rates across user buckets? Integer num/den, one unsigned
      // micro-rounded division.
      (s, dir) => {
        val cells = Tables.events(s, dir)
          .groupBy((col("user_id") % 200).as("block"), col("event_type"))
          .agg((max(col("value")) >= 180.0).as("x"))
        graft.pipeline.WeakLabels.cochranQ(
          cells, "block", "event_type", col("x"))
      },
      """WITH cells AS (SELECT user_id % 200 AS b, event_type AS t,
        |    max(value) >= 180.0 AS x FROM events GROUP BY 1, 2),
        |kk AS (SELECT count(DISTINCT t) AS k FROM cells),
        |ok AS (SELECT b FROM cells GROUP BY b
        |  HAVING count(*) = (SELECT k FROM kk)),
        |cc AS (SELECT * FROM cells WHERE b IN (SELECT b FROM ok)),
        |ca AS (SELECT count(*)::BIGINT AS k, sum(tj)::HUGEINT AS nn,
        |    sum(tj::HUGEINT * tj)::HUGEINT AS st2
        |  FROM (SELECT t, sum(CASE WHEN x THEN 1 ELSE 0 END)::BIGINT
        |      AS tj FROM cc GROUP BY t) tt),
        |ra AS (SELECT count(*)::BIGINT AS n_blocks,
        |    sum(u::HUGEINT * u)::HUGEINT AS su2
        |  FROM (SELECT b, sum(CASE WHEN x THEN 1 ELSE 0 END)::BIGINT
        |      AS u FROM cc GROUP BY b) uu)
        |SELECT k, n_blocks,
        |  CASE WHEN k < 2 OR n_blocks = 0 OR k * nn - su2 = 0
        |    THEN NULL
        |    ELSE ((2 * ((k - 1) * (k * st2 - nn * nn)) * 1000000
        |        + (k * nn - su2))
        |      // (2 * (k * nn - su2)))::DOUBLE / 1e6 END AS q_stat
        |FROM ca, ra""".stripMargin),

    Q("q340_page_trend",
      // Page's trend test ([[graft.operators.Ranks.pageTrend]]):
      // q337's Friedman with an ORDERED alternative — do per-bucket
      // event-type interaction counts rise along the alphabetical
      // type order? Doubled ranks keep L integer; the one float step
      // (z) is token-identical in both engines, +0.0-normalized.
      (s, dir) => {
        val cells = Tables.events(s, dir)
          .groupBy((col("user_id") % 200).as("block"), col("event_type"))
          .agg(count(lit(1)).as("v"))
        graft.operators.Ranks.pageTrend(
          cells, "block", "event_type", "v")
      },
      """WITH cells AS (SELECT user_id % 200 AS b, event_type AS t,
        |    count(*)::BIGINT AS v FROM events GROUP BY 1, 2),
        |kk AS (SELECT count(DISTINCT t) AS k FROM cells),
        |ok AS (SELECT b FROM cells GROUP BY b
        |  HAVING count(*) = (SELECT k FROM kk)),
        |r AS (SELECT t,
        |    2 * rank() OVER (PARTITION BY b ORDER BY v)
        |      + count(*) OVER (PARTITION BY b, v) - 1 AS r2
        |  FROM cells WHERE b IN (SELECT b FROM ok)),
        |pt AS (SELECT t, sum(r2)::BIGINT AS rs2, count(*)::BIGINT AS n
        |  FROM r GROUP BY t),
        |pc AS (SELECT t, rs2, n, row_number() OVER (ORDER BY t) AS cj
        |  FROM pt),
        |a AS (SELECT count(*)::BIGINT AS k, max(n) AS n_blocks,
        |    sum(cj * rs2)::BIGINT AS l2 FROM pc)
        |SELECT k, n_blocks, l2 AS l2_stat,
        |  CASE WHEN k < 2 OR n_blocks IS NULL OR n_blocks = 0
        |    THEN NULL
        |    ELSE round((2 * l2 - n_blocks * k * (k + 1) * (k + 1))
        |        ::DOUBLE * 3.0
        |      / ((k * (k + 1))::DOUBLE
        |        * sqrt((n_blocks * (k - 1))::DOUBLE)), 6) + 0.0
        |  END AS z
        |FROM a""".stripMargin),

    Q("q341_weighted_pagerank",
      // Weighted PageRank ([[graft.operators.PageRank.runWeighted]]):
      // q230 with edge-proportional mass split — rank flows along
      // co-purchase edges in proportion to the co-basket COUNT, the
      // recsys-standard refinement when tie strength matters. Same
      // 12-dp fixed-point decimal discipline; the oracle unrolls the
      // 5 weighted iterations bit-for-bit.
      (s, dir) => {
        val ew = graft.operators.Ckpt(
          graft.operators.Graph.weightedBasketEdges(
            Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
            "l_orderkey", "l_partkey"), eager = false)
        val sym = ew.select(col("a").as("src"), col("b").as("dst"),
            col("n").as("w"))
          .unionAll(ew.select(col("b").as("src"), col("a").as("dst"),
            col("n").as("w")))
        // symmetrized union ⇒ in-edge-closed: identity nodes-join skipped
        graft.operators.PageRank.runWeighted(sym, iters = 5,
            damping = 0.85, inEdgeClosed = true)
          .orderBy(col("rank").desc, col("node")).limit(50)
      },
      {
        val iters = (1 to 5).map { i =>
          s"""r$i AS MATERIALIZED (SELECT nd.node,
             |    round((1.0 - 0.85) / nn.n
             |        + 0.85 * coalesce(s.s::DOUBLE, 0.0),
             |      12)::DECIMAL(28,12) AS rank
             |  FROM nd CROSS JOIN nn LEFT JOIN (
             |    SELECT sy.dst AS node,
             |      sum(round(r.rank::DOUBLE * sy.w::DOUBLE
             |          / od.wsum::DOUBLE, 12)::DECIMAL(28,12)) AS s
             |    FROM sy JOIN r${i - 1} r ON sy.src = r.node
             |    JOIN od ON od.src = sy.src
             |    GROUP BY sy.dst) s ON s.node = nd.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH bi AS MATERIALIZED (SELECT DISTINCT
           |    l_orderkey AS basket, l_partkey AS item
           |  FROM lineitem WHERE l_orderkey % 4 = 0),
           |okb AS (SELECT basket FROM bi GROUP BY basket
           |        HAVING count(*) <= 10000),
           |ew AS MATERIALIZED (SELECT x.item AS a, y.item AS b,
           |    count(*)::BIGINT AS n
           |  FROM bi x JOIN bi y ON x.basket = y.basket
           |    AND x.item < y.item
           |  WHERE x.basket IN (SELECT basket FROM okb)
           |  GROUP BY 1, 2),
           |sy AS MATERIALIZED (SELECT a AS src, b AS dst, n AS w
           |  FROM ew UNION ALL SELECT b AS src, a AS dst, n AS w
           |  FROM ew),
           |nd AS MATERIALIZED (SELECT DISTINCT src AS node FROM sy),
           |nn AS (SELECT count(*)::DOUBLE AS n FROM nd),
           |od AS MATERIALIZED (SELECT src, sum(w)::BIGINT AS wsum
           |  FROM sy GROUP BY src),
           |r0 AS (SELECT node,
           |    round(1.0 / nn.n, 12)::DECIMAL(28,12) AS rank
           |  FROM nd CROSS JOIN nn),
           |$iters
           |SELECT node, round(rank::DOUBLE, 9) AS rank FROM r5
           |ORDER BY rank DESC, node LIMIT 50""".stripMargin
      }),

    Q("q342_cochran_armitage",
      // Cochran–Armitage trend test
      // ([[graft.operators.Dependence.cochranArmitage]]): does return
      // probability trend with order quantity? q245's chi² would only
      // say "associated"; the trend z is signed and uses the dose
      // ORDER. One scan to the 50-level dose grid; all moments exact
      // DECIMAL integers, two sqrts + one division on a 1-row frame.
      (s, dir) => graft.operators.Dependence.cochranArmitage(
        Tables.lineitem(s, dir), "l_quantity",
        col("l_returnflag") === "R"),
      // floor() before the BIGINT cast: DuckDB's double→int cast
      // rounds half-even where Spark's truncates (q344's lesson);
      // quantities are integral so both agree, but keep it explicit
      """WITH cells AS (SELECT floor(l_quantity)::BIGINT AS t,
        |    count(*)::BIGINT AS ni,
        |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      ::BIGINT AS ri
        |  FROM lineitem GROUP BY 1),
        |a AS (SELECT count(*)::BIGINT AS k, sum(ni)::HUGEINT AS n,
        |    sum(ri)::HUGEINT AS r,
        |    sum(t::HUGEINT * ni)::HUGEINT AS stn,
        |    sum(t::HUGEINT * ri)::HUGEINT AS str,
        |    sum(t::HUGEINT * t * ni)::HUGEINT AS st2n FROM cells)
        |SELECT k, n::BIGINT AS n, r::BIGINT AS r,
        |  CASE WHEN k < 2 OR r = 0 OR r = n
        |      OR n * st2n - stn * stn = 0 THEN NULL
        |    ELSE round((n * str - r * stn)::DOUBLE * sqrt(n::DOUBLE)
        |      / sqrt((r * (n - r) * (n * st2n - stn * stn))::DOUBLE),
        |      6) + 0.0
        |  END AS z
        |FROM a""".stripMargin),

    Q("q343_cross_moment_grid",
      // Paired-snapshot cross second-moment grid
      // ([[graft.operators.EmbeddingAudit.crossSecondMoment]]):
      // M[i][j] = mean(a_i·b_j) over sibling-id embedding pairs — the
      // sufficient statistic for the Procrustes space-alignment solve
      // ([[graft.operators.Pca.procrustesAlign]], driver math on this
      // grid, PcaSpec pins permutation recovery). q201's integer
      // discipline: micro products, DECIMAL sums, one signed
      // half-away rounding per cell.
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val pairs = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"), col("embedding").as("a"))
          .join(e.select((col("vec_id") - 1).as("vec_id"),
            col("embedding").as("b")), "vec_id")
        graft.operators.EmbeddingAudit.crossSecondMoment(
          pairs, "a", "b", EmbedDim)
      },
      s"""WITH pr AS (SELECT e.embedding AS a, o.embedding AS b
         |  FROM embeddings e JOIN embeddings o
         |    ON o.vec_id = e.vec_id + 1
         |  WHERE e.vec_id % 2 = 0),
         |x AS (SELECT gi.i AS i, gj.j AS j,
         |    CAST(round(round(a[gi.i + 1]::DOUBLE, 6) * 1000000)
         |      AS HUGEINT)
         |    * CAST(round(round(b[gj.j + 1]::DOUBLE, 6) * 1000000)
         |      AS HUGEINT) AS p
         |  FROM pr, generate_series(0, ${EmbedDim - 1}) gi(i),
         |    generate_series(0, ${EmbedDim - 1}) gj(j)),
         |g AS (SELECT i, j, count(*)::BIGINT AS n, sum(p) AS num
         |  FROM x GROUP BY 1, 2)
         |SELECT i::INT AS i, j::INT AS j, n,
         |  (CASE WHEN num < 0
         |    THEN -((2 * (-num) + n * 1000000) // (2 * n * 1000000))
         |    ELSE  ((2 *  num   + n * 1000000) // (2 * n * 1000000))
         |   END)::DOUBLE / 1e6 AS xmom
         |FROM g ORDER BY i, j""".stripMargin),

    Q("q344_jonckheere_terpstra",
      // Jonckheere–Terpstra ordered-alternative k-group test
      // ([[graft.operators.Ranks.jonckheereTerpstra]]): does extended
      // price shift upward along the quantity-decile order? Completes
      // the rank-test matrix (KW q273 / Friedman q337 / Page q340 /
      // JT). Pairwise Mann–Whitney counts over ordered group pairs —
      // exact doubled-integer U2 via per-group bucketed prefixes on
      // the pooled value grid; the z is token-identical float,
      // +0.0-normalized.
      (s, dir) => graft.operators.Ranks.jonckheereTerpstra(
        Tables.lineitem(s, dir)
          .withColumn("qbucket", floor(col("l_quantity") / 10)
            .cast("long")),
        "qbucket", "l_extendedprice"),
      """WITH src AS (SELECT floor(l_quantity / 10)::BIGINT AS g,
        |    l_extendedprice::DOUBLE AS v FROM lineitem),
        |cells AS (SELECT g, v, count(*)::BIGINT AS c FROM src
        |  GROUP BY 1, 2),
        |gix AS (SELECT g, sum(c)::BIGINT AS ng,
        |    row_number() OVER (ORDER BY g) AS gi
        |  FROM cells GROUP BY g),
        |pooled AS (SELECT DISTINCT v FROM cells),
        |grid AS (SELECT p.v, x.g, x.gi, coalesce(c.c, 0)::BIGINT AS c
        |  FROM pooled p CROSS JOIN gix x
        |  LEFT JOIN cells c ON c.g = x.g AND c.v = p.v),
        |bel AS (SELECT gi, v, c,
        |    (sum(c) OVER (PARTITION BY g ORDER BY v
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |     - c)::BIGINT AS below
        |  FROM grid),
        |uu AS (SELECT coalesce(sum(2 * h.c * g2.below + g2.c * h.c),
        |    0)::BIGINT AS u2
        |  FROM bel h JOIN bel g2 ON g2.v = h.v AND g2.gi < h.gi),
        |m AS (SELECT count(*)::BIGINT AS k, sum(ng)::HUGEINT AS n,
        |    sum(ng::HUGEINT * ng)::HUGEINT AS sn2,
        |    sum(ng::HUGEINT * ng * (2 * ng + 3))::HUGEINT AS sn23
        |  FROM gix)
        |SELECT k, n::BIGINT AS n, u2 AS u2_stat,
        |  CASE WHEN k < 2 OR n * n * (2 * n + 3) - sn23 = 0 THEN NULL
        |    ELSE round((2 * u2 - (n * n - sn2))::DOUBLE * 3.0
        |      / sqrt((2 * (n * n * (2 * n + 3) - sn23))::DOUBLE), 6)
        |      + 0.0
        |  END AS z
        |FROM uu, m""".stripMargin),

    Q("q345_mann_kendall",
      // Mann–Kendall daily-revenue trend test
      // ([[graft.operators.TimeSeries.mannKendallDaily]]): the
      // significance companion to q244's Theil–Sen slope — S over
      // exact-decimal day sums, tie-corrected variance, ±1 continuity
      // correction. Calendar² pairwise stage (q244's bound); z is the
      // only float, token-identical and +0.0-normalized.
      (s, dir) => graft.operators.TimeSeries.mannKendallDaily(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice"),
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS dd,
        |    sum(o_totalprice::DECIMAL(18,4)) AS x FROM orders
        |  GROUP BY 1),
        |g AS (SELECT date_diff('day', DATE '1970-01-01', dd::DATE)
        |    ::INT AS t, x FROM daily),
        |sx AS (SELECT coalesce(sum(CASE WHEN b.x > a.x THEN 1
        |    WHEN b.x < a.x THEN -1 ELSE 0 END), 0)::BIGINT AS s
        |  FROM g a JOIN g b ON a.t < b.t),
        |nn AS (SELECT count(*)::BIGINT AS n FROM g),
        |tg AS (SELECT coalesce(sum(tp * (tp - 1) * (2 * tp + 5)), 0)
        |    ::BIGINT AS tsum
        |  FROM (SELECT count(*)::BIGINT AS tp FROM g GROUP BY x) q),
        |v AS (SELECT nn.n,
        |    (nn.n * (nn.n - 1) * (2 * nn.n + 5) - tg.tsum)::BIGINT
        |      AS v18
        |  FROM nn, tg)
        |SELECT v.n AS n_days, sx.s AS s_stat,
        |  CASE WHEN v18 = 0 THEN 0.0
        |    WHEN sx.s > 0 THEN
        |      round((sx.s - 1)::DOUBLE / sqrt(v18::DOUBLE / 18.0), 6)
        |        + 0.0
        |    WHEN sx.s < 0 THEN
        |      round((sx.s + 1)::DOUBLE / sqrt(v18::DOUBLE / 18.0), 6)
        |        + 0.0
        |    ELSE 0.0 END AS z
        |FROM sx, v""".stripMargin),

    Q("q346_fairness_audit",
      // Group-fairness release audit ([[graft.pipeline.Fairness
      // .audit]]): per user-segment selection rate / TPR / FPR of a
      // targeting rule (≥3 high-value views) against the conversion
      // label (≥14 purchases), plus demographic-parity and
      // equalized-odds max−min gaps — the responsible-release gate
      // beside q190's k-anonymity. One groupBy to the per-group
      // confusion counts; integer-micro rates; gaps subtract
      // identical 6-dp doubles.
      (s, dir) => {
        val users = Tables.events(s, dir).groupBy("user_id")
          .agg((sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)) >= 14).as("y"),
            (sum(when(col("event_type") === "view"
              && col("value") > 100.0, 1L).otherwise(0L)) >= 3).as("p"))
          .withColumn("seg", col("user_id") % 4)
        graft.pipeline.Fairness.audit(users, "seg", col("y"), col("p"))
          .withColumnRenamed("grp", "seg")
      },
      """WITH u AS (SELECT user_id % 4 AS grp,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      >= 14 AS y,
        |    sum(CASE WHEN event_type = 'view' AND value > 100.0
        |      THEN 1 ELSE 0 END) >= 3 AS p
        |  FROM events GROUP BY user_id),
        |per AS (SELECT grp, count(*)::BIGINT AS n,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos,
        |    sum(CASE WHEN p THEN 1 ELSE 0 END)::BIGINT AS n_sel,
        |    sum(CASE WHEN p AND y THEN 1 ELSE 0 END)::BIGINT AS tp,
        |    sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp
        |  FROM u GROUP BY grp),
        |r AS (SELECT grp, n, n_pos, n_sel,
        |    ((2 * n_sel * 1000000 + n) // (2 * n))::DOUBLE / 1e6
        |      AS sel_rate,
        |    CASE WHEN n_pos = 0 THEN NULL
        |      ELSE ((2 * tp * 1000000 + n_pos) // (2 * n_pos))
        |        ::DOUBLE / 1e6 END AS tpr,
        |    CASE WHEN n = n_pos THEN NULL
        |      ELSE ((2 * fp * 1000000 + (n - n_pos))
        |        // (2 * (n - n_pos)))::DOUBLE / 1e6 END AS fpr
        |  FROM per),
        |g AS (SELECT max(sel_rate) - min(sel_rate) AS dp_gap,
        |    max(tpr) - min(tpr) AS tpr_gap,
        |    max(fpr) - min(fpr) AS fpr_gap FROM r)
        |SELECT r.grp AS seg, r.n, r.n_pos, r.n_sel, r.sel_rate,
        |  r.tpr, r.fpr, g.dp_gap, g.tpr_gap, g.fpr_gap
        |FROM r, g ORDER BY seg""".stripMargin),

    Q("q347_brier_decomposition",
      // Murphy decomposition of the frozen quality model's Brier score
      // ([[graft.pipeline.QualityClassifier.brierDecomposition]]):
      // brier = rel − res + unc + wbv — what q206's reliability
      // diagram and q268's ECE pay (rel), earn (res), can never beat
      // (unc), and leave within bins (wbv). Per-term doubles 9-dp
      // DECIMAL-summed; the res numerator is an exact integer.
      (s, dir) => graft.pipeline.QualityClassifier.brierDecomposition(
        Tables.documents(s, dir), "text", QcWeights, QcIntercept,
        col("lang") === "en"),
      s"""WITH $CalibPrefixSql,
         |g2 AS (SELECT bin, count(*)::BIGINT AS n_k,
         |    sum(pos)::BIGINT AS pos_k, sum(qp::DECIMAL(28,9)) AS sum_p
         |  FROM base GROUP BY 1),
         |tt AS (SELECT sum(n_k)::BIGINT AS n, sum(pos_k)::BIGINT AS np
         |  FROM g2),
         |pd AS (SELECT
         |    round((b.qp - b.pos::DOUBLE) * (b.qp - b.pos::DOUBLE), 9)
         |      ::DECIMAL(28,9) AS bt,
         |    round((b.qp - (g2.sum_p::VARCHAR)::DOUBLE / g2.n_k::DOUBLE)
         |      * (b.qp - (g2.sum_p::VARCHAR)::DOUBLE / g2.n_k::DOUBLE),
         |      9)::DECIMAL(28,9) AS wt,
         |    round((b.qp - (g2.sum_p::VARCHAR)::DOUBLE / g2.n_k::DOUBLE)
         |      * (b.pos::DOUBLE - g2.pos_k::DOUBLE / g2.n_k::DOUBLE),
         |      9)::DECIMAL(28,9) AS ct
         |  FROM base b JOIN g2 USING (bin)),
         |ps AS (SELECT sum(bt) AS bsum, sum(wt) AS wsum,
         |  sum(ct) AS csum FROM pd),
         |bt2 AS (SELECT
         |    sum(round(((g2.sum_p::VARCHAR)::DOUBLE - pos_k::DOUBLE)
         |      * ((g2.sum_p::VARCHAR)::DOUBLE - pos_k::DOUBLE)
         |      / n_k::DOUBLE, 9)::DECIMAL(28,9)) AS rsum,
         |    sum(round((pos_k * tt.n - tt.np * n_k)::DOUBLE
         |      * (pos_k * tt.n - tt.np * n_k)::DOUBLE
         |      / (n_k::DOUBLE * tt.n::DOUBLE * tt.n::DOUBLE), 9)
         |      ::DECIMAL(28,9)) AS ssum
         |  FROM g2, tt)
         |SELECT tt.n AS n,
         |  round((ps.bsum::VARCHAR)::DOUBLE / tt.n::DOUBLE, 6)
         |    AS brier,
         |  round((bt2.rsum::VARCHAR)::DOUBLE / tt.n::DOUBLE, 6) AS rel,
         |  round((bt2.ssum::VARCHAR)::DOUBLE / tt.n::DOUBLE, 6) AS res,
         |  round(tt.np::DOUBLE / tt.n::DOUBLE
         |    * (1.0 - tt.np::DOUBLE / tt.n::DOUBLE), 6) AS unc,
         |  round((ps.wsum::VARCHAR)::DOUBLE / tt.n::DOUBLE, 6) AS wbv,
         |  round((ps.csum::VARCHAR)::DOUBLE / tt.n::DOUBLE, 6) AS wbc
         |FROM ps, bt2, tt""".stripMargin),

    Q("q348_runs_test",
      // Wald–Wolfowitz runs test on daily revenue moves
      // ([[graft.operators.TimeSeries.runsTestDaily]]): the RANDOMNESS
      // companion to q345's monotone trend — too few runs = momentum,
      // too many = oscillation. Exact-decimal day sums make every
      // up/down sign and tie engine-identical; R, n₊, n₋ integers;
      // z token-identical, +0.0-normalized.
      (s, dir) => graft.operators.TimeSeries.runsTestDaily(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice"),
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS dd,
        |    sum(o_totalprice::DECIMAL(18,4)) AS x FROM orders
        |  GROUP BY 1),
        |g AS (SELECT date_diff('day', DATE '1970-01-01', dd::DATE)
        |    ::INT AS t, x FROM daily),
        |mv AS (SELECT t, CASE WHEN x > lag(x) OVER (ORDER BY t) THEN 1
        |    WHEN x < lag(x) OVER (ORDER BY t) THEN -1
        |    ELSE NULL END AS s FROM g),
        |m2 AS (SELECT t, s FROM mv WHERE s IS NOT NULL),
        |rb AS (SELECT s, CASE WHEN lag(s) OVER (ORDER BY t) IS NULL
        |    OR lag(s) OVER (ORDER BY t) <> s THEN 1 ELSE 0 END AS brk
        |  FROM m2),
        |a AS (SELECT count(*)::BIGINT AS n_moves,
        |    sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT AS n_up,
        |    sum(CASE WHEN s = -1 THEN 1 ELSE 0 END)::BIGINT AS n_down,
        |    coalesce(sum(brk), 0)::BIGINT AS runs FROM rb)
        |SELECT n_moves, n_up, n_down, runs,
        |  CASE WHEN 2 * n_up * n_down * (2 * n_up * n_down - n_moves)
        |      <= 0 OR n_moves < 2 THEN NULL
        |    ELSE round((runs::DOUBLE
        |        - (2.0 * n_up * n_down / n_moves::DOUBLE + 1.0))
        |      / sqrt(2.0 * n_up * n_down
        |        * (2.0 * n_up * n_down - n_moves::DOUBLE)
        |        / (n_moves::DOUBLE * n_moves::DOUBLE
        |          * (n_moves::DOUBLE - 1.0))), 6) + 0.0
        |  END AS z
        |FROM a""".stripMargin),

    Q("q349_seasonal_mann_kendall",
      // Seasonal Mann–Kendall ([[graft.operators.TimeSeries
      // .seasonalMannKendallDaily]], Hirsch & Slack 1984): q345
      // restricted to within-weekday pairs (stratum = t mod 7), so a
      // weekly cycle can't mask or fake the trend. S and 18·Var sum
      // over strata; same exact-decimal/continuity discipline.
      (s, dir) => graft.operators.TimeSeries.seasonalMannKendallDaily(
        Tables.orders(s, dir), "o_orderdate", "o_totalprice",
        period = 7),
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS dd,
        |    sum(o_totalprice::DECIMAL(18,4)) AS x FROM orders
        |  GROUP BY 1),
        |g AS (SELECT
        |    (date_diff('day', DATE '1970-01-01', dd::DATE) % 7)::INT
        |      AS h,
        |    date_diff('day', DATE '1970-01-01', dd::DATE)::INT AS t,
        |    x FROM daily),
        |sx AS (SELECT coalesce(sum(CASE WHEN b.x > a.x THEN 1
        |    WHEN b.x < a.x THEN -1 ELSE 0 END), 0)::BIGINT AS s
        |  FROM g a JOIN g b ON a.h = b.h AND a.t < b.t),
        |ps AS (SELECT h, sum(tp)::BIGINT AS nh,
        |    coalesce(sum(tp * (tp - 1) * (2 * tp + 5)), 0)::BIGINT
        |      AS tsum
        |  FROM (SELECT h, x, count(*)::BIGINT AS tp FROM g
        |    GROUP BY h, x) q GROUP BY h),
        |v AS (SELECT sum(nh)::BIGINT AS n,
        |    coalesce(sum(nh * (nh - 1) * (2 * nh + 5) - tsum), 0)
        |      ::BIGINT AS v18 FROM ps)
        |SELECT v.n AS n_days, sx.s AS s_stat,
        |  CASE WHEN v18 = 0 THEN 0.0
        |    WHEN sx.s > 0 THEN
        |      round((sx.s - 1)::DOUBLE / sqrt(v18::DOUBLE / 18.0), 6)
        |        + 0.0
        |    WHEN sx.s < 0 THEN
        |      round((sx.s + 1)::DOUBLE / sqrt(v18::DOUBLE / 18.0), 6)
        |        + 0.0
        |    ELSE 0.0 END AS z
        |FROM sx, v""".stripMargin),

    Q("q350_partial_correlation",
      // First-order partial correlation ([[graft.operators
      // .MatrixStats.partialCorrelation]]): does price correlate with
      // discount once QUANTITY is held fixed? The raw r(price,
      // discount) mostly relays quantity (extended price is qty ×
      // unit price); the partial strips the confounder. Same one-pass
      // decimal moments as q212; float work on the 1-row frame only.
      (s, dir) => graft.operators.MatrixStats.partialCorrelation(
        Tables.lineitem(s, dir),
        "l_extendedprice", "l_discount", "l_quantity"),
      {
        val cs = Seq("l_extendedprice", "l_discount", "l_quantity")
        val prs = for { i <- cs.indices; j <- i until cs.length }
          yield (cs(i), cs(j))
        val moments =
          (Seq("count(*)::DOUBLE AS n") ++
            cs.map(c =>
              s"(sum(CAST($c AS DECIMAL(18,4)))::VARCHAR)::DOUBLE" +
                s" AS s_$c") ++
            prs.map { case (a, b) =>
              s"(sum((CAST($a AS DECIMAL(19,4)) * CAST($b AS " +
                s"DECIMAL(19,4)))::DECIMAL(38,8))::VARCHAR)::DOUBLE" +
                s" AS s_${a}_$b"
            }).mkString(",\n    ")
        def sab(a: String, b: String) =
          if (cs.indexOf(a) <= cs.indexOf(b)) s"s_${a}_$b"
          else s"s_${b}_$a"
        def cov(a: String, b: String) =
          s"(${sab(a, b)} / n - (s_$a / n) * (s_$b / n))"
        def r(a: String, b: String) =
          s"(${cov(a, b)} / sqrt(${cov(a, a)} * ${cov(b, b)}))"
        val Seq(x, y, z) = cs
        val den = s"((1.0 - ${r(x, z)} * ${r(x, z)})" +
          s" * (1.0 - ${r(y, z)} * ${r(y, z)}))"
        // guards mirror MatrixStats.partialCorrelation exactly: on a
        // degenerate (constant) column float cancellation can leave a
        // tiny negative cov, where unguarded DuckDB yields
        // sqrt(negative) = NaN while Spark reports NULL
        val degen =
          s"(${cov(x, x)} <= 0.0 OR ${cov(y, y)} <= 0.0" +
            s" OR ${cov(z, z)} <= 0.0)"
        s"""WITH m AS (SELECT
           |    $moments
           |  FROM lineitem)
           |SELECT n::BIGINT AS n,
           |  CASE WHEN ${cov(x, x)} <= 0.0 OR ${cov(y, y)} <= 0.0
           |    THEN NULL ELSE round(${r(x, y)}, 6) END AS r_xy,
           |  CASE WHEN $degen OR n < 2 OR $den <= 0.0 THEN NULL
           |    ELSE round((${r(x, y)} - ${r(x, z)} * ${r(y, z)})
           |      / sqrt($den), 6) + 0.0
           |  END AS r_xy_given_z
           |FROM m""".stripMargin
      }),

    Q("q351_colbert_retrieval",
      // ColBERT-style late-interaction retrieval scored by a REAL
      // transformer encoder TRAINED IN-REPO by analytic backprop
      // ([[graft.embed.TinyEncoderTrain]], fixture committed at
      // resources/graft/tiny_encoder.onnx, executed by
      // [[graft.embed.Onnx.run]] — the zero-egress stand-in for the
      // reference's pretrained bge-m3, `backend/process/parsing.py:49`).
      // The query's CONTEXTUAL token states and the 63-row
      // context-free doc-token table are driver-side constants
      // (64 + 1 tiny graph executions); their dot products ship as an
      // integer score matrix, so the distributed side is one scan →
      // explode → BROADCAST join against 63 rows → partial max-agg →
      // all-integer sum. MaxSim per query token, exact in both engines.
      (s, dir) => {
        val m = colbertScoreTable
        val lq = m(1).length
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField,
          StructType}
        val schema = StructType(
          StructField("tok_id", LongType, nullable = false) +:
            (0 until lq).map(j =>
              StructField(s"m$j", LongType, nullable = false)))
        val st = s.createDataFrame(java.util.Arrays.asList(
          (1 until m.length).map(id =>
            Row.fromSeq(id.toLong +: m(id).toSeq)): _*), schema)
        val ids = Tables.documents(s, dir).select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
          .select(col("doc_id"),
            (pmod(TextFunctions.md5Long(col("tok")), lit(63L)) + lit(1L))
              .as("tok_id"))
        val aggs = (0 until lq).map(j => max(col(s"m$j")).as(s"x$j"))
        ids.join(broadcast(st), "tok_id")
          .groupBy("doc_id")
          .agg(aggs.head, aggs.tail: _*)
          .select(col("doc_id"),
            ((0 until lq).map(j => col(s"x$j")).reduce(_ + _)
              .cast("double") / lit(1e6)).as("colbert_score"))
          .orderBy(col("colbert_score").desc, col("doc_id"))
          .limit(10)
      },
      {
        val m = colbertScoreTable
        val lq = m(1).length
        val vals = (1 until m.length).map(id =>
          s"($id, ${m(id).mkString(", ")})").mkString(",\n      |    ")
        val cols = (0 until lq).map(j => s"m$j").mkString(", ")
        val maxes = (0 until lq).map(j => s"max(m$j) AS x$j")
          .mkString(", ")
        val total = (0 until lq).map(j => s"x$j").mkString(" + ")
        s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok
           |    FROM documents),
           |ids AS (SELECT doc_id, ${md5LongSql("tok")} % 63 + 1
           |    AS tok_id FROM toks),
           |st AS (SELECT * FROM (VALUES $vals)
           |  AS t(tok_id, $cols)),
           |mx AS (SELECT doc_id, $maxes
           |  FROM ids JOIN st USING (tok_id) GROUP BY doc_id)
           |SELECT doc_id, ($total)::DOUBLE / 1000000.0
           |    AS colbert_score
           |FROM mx ORDER BY colbert_score DESC, doc_id
           |LIMIT 10""".stripMargin
      }),

    Q("q352_encoder_semantic_neardup",
      // Semantic near-dup: the banded MinHash-LSH candidates (q20's
      // pair generator — never corpus²) re-scored by the TRAINED
      // encoder's bag embedding
      // ([[graft.embed.ColbertEncoder.bagCosinePairs]]): per-doc
      // integer vector sums (order-free exact BIGINTs via one
      // broadcast join against the 63-row scaled token table), cosine
      // as one fixed-order dot expression with a single double
      // division. The trained-model twin of q26's LSH-bucketed
      // embedding near-dup.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.embed.ColbertEncoder.trained.bagCosinePairs(
          docs, "doc_id", "text",
          Dedup.minhashCandidatePairs(docs, "doc_id", "text"), 0.5)
          .orderBy("a", "b")
      },
      {
        val tt = graft.embed.ColbertEncoder.trained.tokenTable()
        val d = graft.embed.ColbertEncoder.trained.dim
        val tvRows = (1 until tt.length).map(id =>
          s"($id, ${(0 until d).map(k =>
            math.round(tt(id)(k).toDouble * 1e4)).mkString(", ")})")
          .mkString(",\n           |    ")
        val wCols = (0 until d).map(k => s"w$k").mkString(", ")
        val sCols = (0 until d).map(k => s"sum(w$k)::BIGINT AS s$k")
          .mkString(", ")
        def dot(x: String, y: String) = (0 until d).map(k =>
          s"$x.s$k * $y.s$k").mkString(" + ")
        s"""WITH ${minhashPairCtes()},
           |tok AS (SELECT doc_id, ${md5LongSql("tok")} % 63 + 1
           |    AS tok_id
           |  FROM (SELECT doc_id, unnest($toksSql) AS tok
           |        FROM documents)),
           |tv AS (SELECT * FROM (VALUES $tvRows)
           |  AS t(tok_id, $wCols)),
           |sums AS (SELECT doc_id, $sCols
           |  FROM tok JOIN tv USING (tok_id) GROUP BY doc_id)
           |SELECT a, b, cos FROM (
           |  SELECT p.a, p.b,
           |    round((${dot("x", "y")})::DOUBLE /
           |      (sqrt((${dot("x", "x")})::DOUBLE)
           |        * sqrt((${dot("y", "y")})::DOUBLE)), 6) AS cos
           |  FROM pairs p
           |  JOIN sums x ON p.a = x.doc_id
           |  JOIN sums y ON p.b = y.doc_id)
           |WHERE cos >= 0.5 ORDER BY a, b""".stripMargin
      }),

    Q("q354_bpe_colbert_retrieval",
      // Late-interaction retrieval under the CORPUS-TRAINED encoder
      // ([[graft.embed.CorpusEncoderTrain]]: real BPE tokenization +
      // contextual-tower ColBERT training on the fixture corpus, d 32
      // — the proof-of-quality lift of q351's proof-of-mechanism; its
      // held-out recall@10 A/B vs TF-IDF is pinned in
      // CorpusEncoderTrainSpec). The distributed side runs the REAL
      // tokenizer — greedy BPE merges per partition
      // ([[graft.text.Bpe.encode]]) — then a broadcast join against
      // the committed symbol vocab and the integer score table; the
      // oracle replays tokenization as word split + vocab VALUES join,
      // exact because the merge table fully merges every corpus word
      // to one `word</w>` symbol (spec-pinned). Same scale shape as
      // q351: scan → encode → two broadcast joins → partial max-agg →
      // integer sum.
      // Realism bound (COVERAGE.md §Round 12): this encoder proves the
      // mechanism chain + a measured quality win at fixture scale; it
      // does NOT stand in for bge-m3's vocab (106 merges vs ~250k),
      // dim (32 vs the reference's 1024 contract — exercised by q357),
      // or training corpus. Swapping a real checkpoint is an asset
      // change, not an operator change.
      (s, dir) => {
        val enc = graft.embed.CorpusColbert.trained
        val m = corpusColbertScoreTable
        val lq = m(1).length
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType,
          StructField, StructType}
        val stSchema = StructType(
          StructField("tok_id", LongType, nullable = false) +:
            (0 until lq).map(j =>
              StructField(s"m$j", LongType, nullable = false)))
        val st = s.createDataFrame(java.util.Arrays.asList(
          (1 until m.length).map(id =>
            Row.fromSeq(id.toLong +: m(id).toSeq)): _*), stSchema)
        val vocSchema = StructType(Seq(
          StructField("sym", StringType, nullable = false),
          StructField("tok_id", LongType, nullable = false)))
        val voc = s.createDataFrame(java.util.Arrays.asList(
          enc.syms.zipWithIndex.map { case (sym, i) =>
            Row(sym, (i + 1).toLong) }: _*), vocSchema)
        val ids = graft.text.Bpe.encode(
          Tables.documents(s, dir).select("doc_id", "text"), "text",
          enc.bpe, "syms")
          .select(col("doc_id"), explode(col("syms")).as("sym"))
          .join(broadcast(voc), "sym")
        val aggs = (0 until lq).map(j => max(col(s"m$j")).as(s"x$j"))
        ids.join(broadcast(st), "tok_id")
          .groupBy("doc_id")
          .agg(aggs.head, aggs.tail: _*)
          .select(col("doc_id"),
            ((0 until lq).map(j => col(s"x$j")).reduce(_ + _)
              .cast("double") / lit(1e6)).as("colbert_score"))
          .orderBy(col("colbert_score").desc, col("doc_id"))
          .limit(10)
      },
      {
        val enc = graft.embed.CorpusColbert.trained
        val m = corpusColbertScoreTable
        val lq = m(1).length
        val eow = graft.text.Bpe.EndOfWord
        val vocVals = enc.syms.zipWithIndex.map { case (sym, i) =>
          s"('${sym.stripSuffix(eow)}', ${i + 1})" }.mkString(", ")
        val stVals = (1 until m.length).map(id =>
          s"($id, ${m(id).mkString(", ")})").mkString(",\n      |    ")
        val cols = (0 until lq).map(j => s"m$j").mkString(", ")
        val maxes = (0 until lq).map(j => s"max(m$j) AS x$j")
          .mkString(", ")
        val total = (0 until lq).map(j => s"x$j").mkString(" + ")
        s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok
           |    FROM documents),
           |voc AS (SELECT * FROM (VALUES $vocVals) AS v(tok, tok_id)),
           |ids AS (SELECT doc_id, tok_id FROM toks JOIN voc USING (tok)),
           |st AS (SELECT * FROM (VALUES $stVals)
           |  AS t(tok_id, $cols)),
           |mx AS (SELECT doc_id, $maxes
           |  FROM ids JOIN st USING (tok_id) GROUP BY doc_id)
           |SELECT doc_id, ($total)::DOUBLE / 1000000.0
           |    AS colbert_score
           |FROM mx ORDER BY colbert_score DESC, doc_id
           |LIMIT 10""".stripMargin
      }),

    Q("q356_rle8_scene_cuts",
      // Scene-cut detection over REAL INTER-FRAME video decode: each
      // selected document gets a synthetic BI_RLE8 AVI
      // ([[graft.multimodal.AviRle8Write]] — the writer mirror of the
      // RLE8 decoder) whose per-frame content is an md5-scheduled
      // two-tone pattern (split left vs split right), with kind 2 a
      // ZERO-BYTE repeat chunk (the carried-canvas no-op). The engine
      // runs the full real path — RIFF demux, sequential RLE8 pixel
      // decode onto the carried canvas, dHash per frame, Hamming vs
      // predecessor ([[graft.multimodal.Multimodal.sceneCuts]] with
      // [[graft.multimodal.RleAviFrameDecoder]]); the oracle replays
      // the cut schedule in closed form (a pattern switch is a cut;
      // repeats and same-pattern frames are not — identical canvases
      // hash identically, so hamming is exactly 0 there and ≥ the
      // threshold only on a switch). Streaming shape: one pass, one
      // 64-bit hash of state per clip, no shuffle before the final
      // order.
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{BinaryType, IntegerType,
          LongType, StructField, StructType}
        val sel = Tables.documents(s, dir)
          .filter(col("doc_id") % 20 === 0)
          .select(col("doc_id"),
            transform(
              // clip length varies 6..10 by selection INDEX (doc_id/20
              // — every selected id is ≡ 0 mod 20, so doc_id % 5 would
              // be constant)
              sequence(lit(0), (lit(5) + pmod((col("doc_id") / 20)
                .cast("long"), lit(5))).cast("int")),
              i => pmod(TextFunctions.md5Long(
                concat(col("doc_id").cast("string"), lit(":vf"),
                  i.cast("string"))), lit(3L)).cast("int"))
              .as("kinds"))
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("v", BinaryType)))
        val enc = org.apache.spark.sql.Encoders.row(schema)
        val clips = sel.mapPartitions { rows =>
          rows.map { r =>
            val kinds = r.getSeq[Int](1)
            val frames = kinds.zipWithIndex.map { case (k, i) =>
              // frame 0 must paint (a repeat there would hash the
              // empty canvas); later repeats carry the canvas
              if (i == 0) Some(if (k % 2 == 0) 16 else 48)
              else if (k == 2) None
              else Some(if (k == 0) 16 else 48)
            }
            Row(r.getLong(0),
              graft.multimodal.AviRle8Write.avi(64, 48, frames))
          }
        }(enc)
        graft.multimodal.Multimodal.sceneCuts(clips, "v",
            cutHamming = 4,
            decoder = graft.multimodal.RleAviFrameDecoder)
          .select(col("doc_id"), col("frame_no"), col("is_cut"))
          .orderBy("doc_id", "frame_no")
      },
      s"""WITH sel AS (
         |  SELECT doc_id, (6 + (doc_id // 20) % 5)::INT AS n
         |  FROM documents WHERE doc_id % 20 = 0),
         |fr AS (SELECT doc_id, unnest(range(0, n)) AS i FROM sel),
         |k AS (SELECT doc_id, i,
         |    (CASE WHEN i = 0
         |       THEN ${md5LongSql("doc_id::VARCHAR || ':vf' || i::VARCHAR")}
         |         % 3 % 2
         |       ELSE ${md5LongSql("doc_id::VARCHAR || ':vf' || i::VARCHAR")}
         |         % 3 END)::INT AS kind
         |  FROM fr),
         |eff AS (SELECT doc_id, i,
         |    last_value(CASE WHEN kind <= 1 THEN kind END IGNORE NULLS)
         |      OVER (PARTITION BY doc_id ORDER BY i) AS pat
         |  FROM k)
         |SELECT doc_id, i::INT AS frame_no,
         |  (i > 0 AND pat <> lag(pat) OVER (PARTITION BY doc_id ORDER BY i))
         |    AS is_cut
         |FROM eff ORDER BY doc_id, frame_no""".stripMargin),

    Q("q358_gif_scene_cuts",
      // Scene-cut detection over REAL animated-GIF decode — the second
      // inter-frame codec leg beside q356's RLE8, exercising the seams
      // RLE8 cannot: LZW decompression (real dictionary growth),
      // PARTIAL-frame composition at an offset, and per-pixel
      // TRANSPARENCY. Each selected document gets a synthetic GIF89a
      // ([[graft.multimodal.GifWrite]] — the writer mirror of the
      // [[graft.multimodal.Gif]] decoder) whose per-frame content is
      // an md5-scheduled two-tone pattern; kind 2 is a CARRY frame — a
      // center half-rect that repaints the carried canvas with a
      // transparent checkerboard punched through it, so its pixels are
      // unchanged ONLY if offset composition + transparency + the
      // carried canvas are all decoded correctly. The engine runs the
      // full real path (GIF parse, LZW decode, canvas composition,
      // dHash per frame, Hamming vs predecessor —
      // [[graft.multimodal.Multimodal.sceneCuts]] with
      // [[graft.multimodal.GifFrameDecoder]]); the oracle replays the
      // cut schedule in closed form (a pattern switch is a cut; carry
      // and same-pattern frames hash identically, hamming exactly 0).
      // Streaming shape: one pass, one 64-bit hash of state per clip,
      // no shuffle before the final order.
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{BinaryType, LongType,
          StructField, StructType}
        val sel = Tables.documents(s, dir)
          .filter(col("doc_id") % 20 === 10)
          .select(col("doc_id"),
            transform(
              // clip length varies 6..10 by selection index (doc_id/20
              // truncates identically for the ≡10 mod 20 slice)
              sequence(lit(0), (lit(5) + pmod((col("doc_id") / 20)
                .cast("long"), lit(5))).cast("int")),
              i => pmod(TextFunctions.md5Long(
                concat(col("doc_id").cast("string"), lit(":gf"),
                  i.cast("string"))), lit(3L)).cast("int"))
              .as("kinds"))
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("v", BinaryType)))
        val enc = org.apache.spark.sql.Encoders.row(schema)
        val clips = sel.mapPartitions { rows =>
          rows.map { r =>
            val kinds = r.getSeq[Int](1)
            // frame 0 must paint (a carry there would hash the bare
            // background); later carries repaint the carried pattern
            var pat = 16
            val gw = graft.multimodal.GifWrite
            val frames = kinds.zipWithIndex.map { case (k, i) =>
              val eff = if (i == 0) k % 2 else k
              if (eff == 2) gw.Carry(pat)
              else {
                pat = if (eff == 0) 16 else 48
                gw.Full(pat)
              }
            }
            Row(r.getLong(0), gw.gif(64, 48, frames))
          }
        }(enc)
        graft.multimodal.Multimodal.sceneCuts(clips, "v",
            cutHamming = 4,
            decoder = graft.multimodal.GifFrameDecoder)
          .select(col("doc_id"), col("frame_no"), col("is_cut"))
          .orderBy("doc_id", "frame_no")
      },
      s"""WITH sel AS (
         |  SELECT doc_id, (6 + (doc_id // 20) % 5)::INT AS n
         |  FROM documents WHERE doc_id % 20 = 10),
         |fr AS (SELECT doc_id, unnest(range(0, n)) AS i FROM sel),
         |k AS (SELECT doc_id, i,
         |    (CASE WHEN i = 0
         |       THEN ${md5LongSql("doc_id::VARCHAR || ':gf' || i::VARCHAR")}
         |         % 3 % 2
         |       ELSE ${md5LongSql("doc_id::VARCHAR || ':gf' || i::VARCHAR")}
         |         % 3 END)::INT AS kind
         |  FROM fr),
         |eff AS (SELECT doc_id, i,
         |    last_value(CASE WHEN kind <= 1 THEN kind END IGNORE NULLS)
         |      OVER (PARTITION BY doc_id ORDER BY i) AS pat
         |  FROM k)
         |SELECT doc_id, i::INT AS frame_no,
         |  (i > 0 AND pat <> lag(pat) OVER (PARTITION BY doc_id ORDER BY i))
         |    AS is_cut
         |FROM eff ORDER BY doc_id, frame_no""".stripMargin),

    Q("q357_dim1024_sq8_knn",
      // The reference's HARD vector contract is dim 1024
      // (`elasticsearch_index.py:41-42,263-265`) while the fixtures
      // carry dim 64 — this query runs the full quantization ladder AT
      // THE CONTRACT WIDTH over a generated dim-1024 table: a
      // deterministic integer lattice per (vec_id, dim) — k = (vec_id·31
      // + i·17) mod 97, v = (k − 48)/16 — exact in float AND double, so
      // both engines see identical bits with no literal table shipped.
      // Pipeline: dim-1024 guard (the reference's index/query check) →
      // per-dim min/max codebook → affine int8 quantization → integer
      // dot-product candidate scan (HOF transform/zip_with — size-
      // independent expressions, nothing assumes dim 64) → exact-cosine
      // rerank. Scale shape identical to q66: one codebook collect
      // (2 × dim doubles), TakeOrderedAndProject shortlist, k-row
      // rerank.
      (s, dir) => {
        val d = Dim1024
        val gen = Tables.embeddings(s, dir).select("vec_id")
          .withColumn("embedding",
            transform(sequence(lit(1), lit(d)),
              i => (((col("vec_id") * 31 + i.cast("long") * 17) % 97)
                .cast("double") - lit(48.0)) / lit(16.0))
              .cast("array<float>"))
        val guarded = gen.filter(
          graft.functions.VectorFunctions.hasDim(col("embedding"), d))
        VectorSearch.quantizedTopK(guarded, "vec_id", "embedding",
          Dim1024QueryVec, 10, d, numCandidates = 50)
      },
      {
        val qd = (i: String) => // q66's int8 quantizer at dim 1024
          s"(CASE WHEN mxs[$i] = mns[$i] THEN 0 ELSE " +
            s"least(127, greatest(-128, " +
            s"floor((embedding[$i] - mns[$i]) * 255.0 / " +
            s"(mxs[$i] - mns[$i]))::BIGINT - 128)) END)"
        s"""WITH gen AS (
           |  SELECT vec_id,
           |    [((vec_id * 31 + i * 17) % 97 - 48) / 16.0
           |     for i in range(1, ${Dim1024 + 1})] AS embedding
           |  FROM embeddings),
           |qvec AS (SELECT [((i * 29 + 7) % 97 - 48) / 16.0
           |                 for i in range(1, ${Dim1024 + 1})] AS qv),
           |pe AS (
           |  SELECT unnest(embedding) AS v,
           |         generate_subscripts(embedding, 1) AS pos
           |  FROM gen),
           |mm AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM pe GROUP BY pos),
           |arrs AS (SELECT list(mn ORDER BY pos) AS mns,
           |                list(mx ORDER BY pos) AS mxs FROM mm),
           |qq AS (
           |  SELECT [CASE WHEN mxs[i] = mns[i] THEN 0 ELSE
           |            least(127, greatest(-128,
           |              floor((qv[i] - mns[i]) * 255.0 /
           |                (mxs[i] - mns[i]))::BIGINT - 128)) END
           |          for i in range(1, ${Dim1024 + 1})] AS qiv
           |  FROM arrs, qvec),
           |cand AS (
           |  SELECT vec_id, embedding,
           |    list_sum([${qd("i")} * qiv[i]
           |              for i in range(1, ${Dim1024 + 1})])::BIGINT AS qscore
           |  FROM gen, arrs, qq
           |  ORDER BY qscore DESC, vec_id LIMIT 50)
           |SELECT vec_id AS doc_id,
           |  round(CASE WHEN nrm = 0 OR qn = 0 THEN 0.0
           |        ELSE dot / (nrm * qn) END, 6) AS vec_score
           |FROM (SELECT vec_id,
           |        list_dot_product(embedding, qv) AS dot,
           |        sqrt(list_dot_product(embedding, embedding)) AS nrm,
           |        sqrt(list_dot_product(qv, qv)) AS qn
           |      FROM cand, qvec)
           |ORDER BY vec_score DESC, doc_id LIMIT 10""".stripMargin
      }),

    Q("q355_neural_ocr_ingest",
      // The flagship ingest path driven end-to-end by the NEURAL OCR
      // engine: every selected document becomes a real scanned page —
      // text rendered with a real DejaVu typeface (or the composed
      // jamo [[graft.ingest.HangulFont]] for the Korean rows — the
      // reference's EasyOCR en+ko pair, `parsing.py:37-41`),
      // JPEG-compressed into a DCTDecode PDF
      // ([[graft.ingest.RasterScan]]) — then parsed by
      // [[graft.ingest.PdfPageExtractor]], whose empty text layer
      // routes the raster to [[graft.ingest.NeuralOcrEngine]] (the
      // trained MLP), and enriched by the standard metadata pass. The
      // oracle reconstructs the EXPECTED recognition in SQL — exact
      // because the full A-Z0-9 alphabet and the Hangul fixture string
      // round-trip verbatim at this typeface/size (probed per
      // character in six neighbor contexts; fail-row semantics stay
      // live — a majority-rejected page would surface as status
      // 'fail' and break the hash). Scale shape: one scan,
      // per-partition render+OCR, no shuffle before the final order.
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{BinaryType, StringType,
          StructField, StructType}
        val sel = Tables.documents(s, dir)
          .filter(col("doc_id") % 10 === 0)
          .select("doc_id", "source", "lang")
        val schema = StructType(Seq(
          StructField("path", StringType),
          StructField("content", BinaryType)))
        val enc = org.apache.spark.sql.Encoders.row(schema)
        val files = sel.mapPartitions { rows =>
          rows.map { r =>
            val (id, src, lang) =
              (r.getLong(0), r.getString(1), r.getString(2))
            val pdf =
              if (id % 100 == 0)
                graft.ingest.RasterScan.hangulScanPdf(HangulScanText, 4)
              else graft.ingest.RasterScan.latinScanPdf(
                s"PAGE $id ${lang.toUpperCase(java.util.Locale.ROOT)}", "DejaVu Serif", 28)
            Row(s"/scan/$src/$lang/doc_$id.pdf", pdf)
          }
        }(enc)
        graft.ingest.Ingest.enrich(
          graft.ingest.Ingest.explodePages(files,
            graft.ingest.PdfPageExtractor(
              ocr = graft.ingest.NeuralOcrEngine)), "/scan")
          .select("filepath", "filename", "page", "lv1_cat", "lv2_cat",
            "lv3_cat", "status", "hashed_filepath",
            "hashed_page_content")
          .orderBy("filepath", "page")
      },
      s"""SELECT path AS filepath,
         |  'doc_' || doc_id || '.pdf' AS filename, 1 AS page,
         |  source AS lv1_cat, lang AS lv2_cat, '' AS lv3_cat,
         |  'success' AS status, md5(path) AS hashed_filepath,
         |  md5('This page explains doc_' || doc_id
         |      || ' that belongs to ' || source || ',' || lang
         |      || ' categories.' || chr(10) ||
         |      CASE WHEN doc_id % 100 = 0 THEN '$HangulScanText'
         |           ELSE 'PAGE ' || doc_id || ' ' || upper(lang) END)
         |    AS hashed_page_content
         |FROM (SELECT *, '/scan/' || source || '/' || lang || '/doc_'
         |        || doc_id || '.pdf' AS path FROM documents
         |      WHERE doc_id % 10 = 0)
         |ORDER BY filepath, page""".stripMargin))

  /** Fixed retrieval question for q351 — drawn from the encoder's
    * training themes so the learned geometry is exercised. */
  val ColbertQuery = "broadcast shuffle partition filter pushdown"

  /** Integer MaxSim score matrix (63 ids × query tokens), from the
    * committed trained encoder — the single source both the Spark plan
    * and the oracle VALUES table are generated from. */
  private lazy val colbertScoreTable: Array[Array[Long]] =
    graft.embed.ColbertEncoder.trained.scoreTable(ColbertQuery)

  /** Fixed retrieval question for q354 — in-vocab corpus words, so the
    * BPE tokenizer and the oracle's word→id join see every token. */
  val CorpusColbertQuery = "spark join fast group key"

  /** Korean page text for q355 — [[graft.ingest.HangulFont]] glyphs;
    * round-trips the neural OCR exactly (probed). */
  val HangulScanText = "한국어 스파크"

  /** Integer MaxSim score matrix (BPE-vocab ids × query tokens) from
    * the committed CORPUS-trained encoder ([[graft.embed.CorpusColbert]])
    * — the single source both the q354 Spark plan and its oracle VALUES
    * table are generated from. */
  private lazy val corpusColbertScoreTable: Array[Array[Long]] =
    graft.embed.CorpusColbert.trained.scoreTable(CorpusColbertQuery)

  private def allQueries: Seq[Q] = {
    // q35's oracle is exactly q28's (same BM25 definition, same shape —
    // the index is an execution strategy, not a semantics change).
    val base = registry ++ indexedRegistry
    val q28Sql = base.find(_.name == "q28_bm25").get.sql
    val q67Sql = base.find(_.name == "q67_phrase_match").get.sql
    val q66Sql = base.find(_.name == "q66_quantized_knn").get.sql
    val q74Sql = base.find(_.name == "q74_proximity_match").get.sql
    // q168 = q28's BM25 (as a nested CTE) + the collapse tail
    val collapseSql =
      s"""WITH hits AS ($q28Sql)
         |SELECT source, doc_id, bm25 FROM (
         |  SELECT d.source, h.doc_id, h.bm25,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY h.bm25 DESC, h.doc_id) AS rn
         |  FROM hits h JOIN documents d USING (doc_id))
         |WHERE rn = 1 ORDER BY bm25 DESC, doc_id LIMIT 5""".stripMargin
    // q353 = ranker A/B before an index migration: the trained-encoder
    // ranking (q351) against the TF-IDF ranking (q58) as aligned rank
    // rows — both systems' full oracle SQL rides as nested CTEs (the
    // q168 pattern), so the comparison itself is hash-checked. Spark
    // side recomposes the two registered query plans at run time;
    // ranks are row_number over each system's own (score desc, doc_id)
    // order on ≤ 10 rows (the single-partition window is 10 rows).
    val q58Sql = (base ++ analyticsRegistry)
      .find(_.name == "q58_mllib_knn").get.sql
    val q351Sql = analyticsRegistry
      .find(_.name == "q351_colbert_retrieval").get.sql
    val q353 = Q("q353_ranker_overlap",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cb = queries("q351_colbert_retrieval")(s, dir)
          .select(col("doc_id"), row_number().over(Window.orderBy(
            col("colbert_score").desc, col("doc_id")))
            .as("rank_colbert"))
        val tf = queries("q58_mllib_knn")(s, dir)
          .select(col("doc_id"), row_number().over(Window.orderBy(
            col("vec_score").desc, col("doc_id"))).as("rank_tfidf"))
        cb.join(tf, Seq("doc_id"), "full_outer").orderBy("doc_id")
      },
      s"""WITH cb AS ($q351Sql),
         |tf AS ($q58Sql),
         |cr AS (SELECT doc_id, row_number() OVER (
         |    ORDER BY colbert_score DESC, doc_id)::INT AS rank_colbert
         |  FROM cb),
         |tr AS (SELECT doc_id, row_number() OVER (
         |    ORDER BY vec_score DESC, doc_id)::INT AS rank_tfidf
         |  FROM tf)
         |SELECT doc_id, rank_colbert, rank_tfidf
         |FROM cr FULL OUTER JOIN tr USING (doc_id)
         |ORDER BY doc_id""".stripMargin)
    (registry ++ indexedRegistry.map { q =>
      if (q.name == "q35_indexed_bm25") q.copy(sql = q28Sql)
      else if (q.name == "q80_indexed_phrase") q.copy(sql = q67Sql)
      else if (q.name == "q82_ivf_sq8_knn") q.copy(sql = q66Sql)
      else if (q.name == "q119_indexed_proximity") q.copy(sql = q74Sql)
      else q
    }) ++ analyticsRegistry.map { q =>
      if (q.name == "q168_search_collapse") q.copy(sql = collapseSql)
      else q
    } :+ q76 :+ q79 :+ q81 :+ q83 :+ q84 :+ q85 :+ q86 :+ q87 :+ q353
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, QFn] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** DuckDB-runnable oracle per query (same column names, same ordering). */
  def oracleSql: Map[String, String] =
    allQueries.filter(_.sql != null).map(q => q.name -> q.sql).toMap
}
