package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Graph, ScaleOps, Spans, Stats}

/** Round-5 scale tier: the operators whose whole point is surviving a
  * 100x scale-up — capped LSH candidate generation (the production
  * configuration of the dedup path), degree-oriented triangle counting
  * over the near-dup graph, range-partitioned global rank (no
  * single-partition window), Z-order layout keys, exact histograms,
  * and mergeable Misra-Gries heavy hitters — each hash-gated against a
  * DuckDB oracle twin.
  */
object QueriesScale {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------------
  // Capped LSH candidates: the production configuration.
  // q_minhash_lsh_pairs gates the exact-LSH semantics; THIS gates the
  // hot-bucket cap actually deployed at scale (the sf1 scale proof,
  // PERF.md round 5, measured a 4,093-member bucket = 8.4M pair
  // expansions from one key).
  // Cap chosen to bite at gate scale so the drop path is exercised.
  // ---------------------------------------------------------------------
  val LshBucketCap = 8

  def minhashLshCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
      QueriesML.ShingleN, QueriesML.MinhashK, QueriesML.MinhashBands,
      maxBucketSize = Some(LshBucketCap))

  val minhashLshCappedSql: String = {
    val r = QueriesML.MinhashK / QueriesML.MinhashBands
    val bandSelects = (0 until QueriesML.MinhashBands).map { b =>
      val sigCols = (b * r until (b + 1) * r).map(i => s"mh$i").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', $sigCols)) AS bk FROM sig"
    }.mkString("\n    UNION ALL ")
    s"""WITH ${QueriesML.shinglesCte},
       |  sig AS (${QueriesML.sigSelect}),
       |  bands AS ($bandSelects),
       |  kept AS (SELECT band, bk FROM bands GROUP BY band, bk
       |           HAVING count(*) >= 2 AND count(*) <= $LshBucketCap)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bands a JOIN kept k ON a.band = k.band AND a.bk = k.bk
       |JOIN bands b ON b.band = k.band AND b.bk = k.bk
       |  AND a.doc_id < b.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Triangle + wedge counts of the near-dup candidate graph
  // ---------------------------------------------------------------------
  def triangleCount(s: SparkSession, dir: String): DataFrame =
    Graph.triangleStats(
      QueriesML.minhashLshPairs(s, dir), "id_a", "id_b")

  val triangleCountSql: String =
    s"""WITH cand AS (SELECT * FROM (${QueriesML.minhashLshPairsSql})),
       |  deg AS (SELECT n, count(*) AS d FROM (
       |    SELECT id_a AS n FROM cand UNION ALL SELECT id_b FROM cand)
       |    GROUP BY n)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM cand e1
       |    JOIN cand e2 ON e2.id_a = e1.id_b
       |    JOIN cand e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
       |    AS n_triangles,
       |  (SELECT CAST(coalesce(sum((d * (d - 1)) // 2), 0) AS BIGINT)
       |    FROM deg) AS n_wedges""".stripMargin

  // ---------------------------------------------------------------------
  // Exact equi-width histogram (doc length profile)
  // ---------------------------------------------------------------------
  val HistLo = 0L
  val HistHi = 600L
  val HistBins = 12

  def histogram(s: SparkSession, dir: String): DataFrame =
    Stats.histogram(t(s, dir, "documents"), "n_chars", HistLo, HistHi,
      HistBins)

  val histogramSql: String =
    s"""WITH b AS (SELECT CAST(((n_chars - $HistLo) * $HistBins)
       |    // ${HistHi - HistLo} AS INT) AS bin
       |  FROM documents WHERE n_chars >= $HistLo AND n_chars < $HistHi),
       |  c AS (SELECT bin, count(*) AS n FROM b GROUP BY bin)
       |SELECT CAST(g.i AS INT) AS bin, CAST(coalesce(c.n, 0) AS BIGINT) AS n
       |FROM generate_series(0, ${HistBins - 1}) g(i)
       |LEFT JOIN c ON c.bin = g.i""".stripMargin

  // ---------------------------------------------------------------------
  // Robust outliers: top-k rows per group by median/MAD z-score, exact
  // integer scoring end-to-end (Stats.outliersMad)
  // ---------------------------------------------------------------------
  val OutlierTopK = 10

  def outlierMad(s: SparkSession, dir: String): DataFrame =
    Stats.outliersMad(
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber"),
        graft.functions.Exact.cents(col("l_extendedprice")).as("price_cents")),
      "l_returnflag", "price_cents", Seq("l_orderkey", "l_linenumber"),
      OutlierTopK)

  val outlierMadSql: String =
    s"""WITH b AS (SELECT l_returnflag, l_orderkey, l_linenumber,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
       |  FROM lineitem),
       |  m AS (SELECT *, CAST(median(price_cents)
       |      OVER (PARTITION BY l_returnflag) * 2 AS BIGINT) AS med2 FROM b),
       |  d AS (SELECT *, abs(price_cents * 2 - med2) AS dev2 FROM m),
       |  md AS (SELECT *, CAST(median(dev2)
       |      OVER (PARTITION BY l_returnflag) * 2 AS BIGINT) AS mad4 FROM d),
       |  sc AS (SELECT *, CASE WHEN mad4 = 0 THEN -1
       |      ELSE (dev2 * 2000000) // mad4 END AS rz_e6 FROM md),
       |  r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
       |      ORDER BY rz_e6 DESC, l_orderkey, l_linenumber) AS rank FROM sc)
       |SELECT l_returnflag, l_orderkey, l_linenumber, price_cents,
       |  CAST(rz_e6 AS BIGINT) AS rz_e6, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= $OutlierTopK""".stripMargin

  // ---------------------------------------------------------------------
  // Global rank without a single-partition window
  // ---------------------------------------------------------------------
  def globalRank(s: SparkSession, dir: String): DataFrame =
    ScaleOps.globalRank(t(s, dir, "orders"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc))
      .select(col("o_orderkey"), col("rank"))

  val globalRankSql: String =
    """SELECT o_orderkey, CAST(row_number() OVER (
      |  ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------------
  // Z-order (Morton) layout key: cluster orders by (customer, day)
  // ---------------------------------------------------------------------
  def zorderKey(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.select(col("o_orderkey"),
      ScaleOps.zorderKey2(col("o_custkey"),
        datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date"))).as("zkey"))
  }

  val zorderKeySql: String = {
    val x = "(o_custkey & 65535)"
    val y = "(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & 65535)"
    val terms = (0 until 16).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")
    s"SELECT o_orderkey, CAST($terms AS BIGINT) AS zkey FROM orders"
  }

  // ---------------------------------------------------------------------
  // N-dim Z-order: cluster orders by (customer, day, price band) —
  // 3 dims, 21 bits each, dimension j at bit position 3*i+j
  // ---------------------------------------------------------------------
  def zorderKey3(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.select(col("o_orderkey"),
      ScaleOps.zorderKeyN(Seq(col("o_custkey"),
        datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")),
        graft.functions.Exact.cents(col("o_totalprice")) / 100000L))
        .as("zkey"))
  }

  val zorderKey3Sql: String = {
    val dims = Seq("(o_custkey & 2097151)",
      "(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & 2097151)",
      "((CAST(round(o_totalprice * 100) AS BIGINT) // 100000) & 2097151)")
    val terms = (for (j <- dims.indices; i <- 0 until 21) yield
      s"(((${dims(j)} >> $i) & 1) << ${3 * i + j})").mkString(" | ")
    s"SELECT o_orderkey, CAST($terms AS BIGINT) AS zkey FROM orders"
  }

  // ---------------------------------------------------------------------
  // Misra-Gries heavy hitters, gated on the deterministic guarantees
  // (the raw counts are order-dependent; the BOUNDS are not — same
  // invariant-projection pattern as the HLL sketch gates)
  // ---------------------------------------------------------------------
  val HhK = 64

  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(explode(operators.TextAnalysis.tokensOf(col("text"))).as("w"))
    val exact = words.groupBy("w").agg(count(lit(1)).as("f"))
    val total = words.agg(count(lit(1)).as("n"))
    val mg = Stats.heavyHitters(words, col("w"), HhK)
    // ceil(n/k) slack: floor would assert STRICTLY more than the n/k
    // guarantee and could fail on a correct implementation
    exact.crossJoin(total).filter(col("f") * HhK > col("n"))
      .crossJoin(broadcast(mg))
      .select(col("w"),
        element_at(col("mg"), col("w")).isNotNull.as("found"),
        coalesce(element_at(col("mg"), col("w")) <= col("f"), lit(false))
          .as("upper_ok"),
        coalesce(element_at(col("mg"), col("w")) >=
          col("f") - expr(s"(n + ${HhK - 1}) DIV $HhK"), lit(false))
          .as("lower_ok"))
  }

  val heavyHittersSql: String =
    s"""WITH words AS (SELECT unnest(string_split(text, ' ')) AS w
       |    FROM documents),
       |  exact AS (SELECT w, count(*) AS f FROM words GROUP BY w),
       |  tot AS (SELECT count(*) AS n FROM words)
       |SELECT w, true AS found, true AS upper_ok, true AS lower_ok
       |FROM exact, tot WHERE f * $HhK > n""".stripMargin

  // ---------------------------------------------------------------------
  // Exact-integer PageRank over the near-dup candidate graph: high
  // scores = documents embedded in dense duplicate families (template
  // spam); e9 fixed-point so the iterative scores hash-match exactly
  // ---------------------------------------------------------------------
  val PrIters = 3
  val PrNum = 85
  val PrDen = 100

  def pageRank(s: SparkSession, dir: String): DataFrame =
    Graph.pageRank(t(s, dir, "documents").select(col("doc_id")), "doc_id",
      QueriesML.minhashLshPairs(s, dir), "id_a", "id_b",
      PrIters, PrNum, PrDen)

  val pageRankSql: String = {
    val base = 1000000000L * (PrDen - PrNum) / PrDen
    val iters = (0 until PrIters).map { k =>
      s"""p${k + 1} AS (SELECT n.id,
         |      CAST($base + ($PrNum * coalesce(c.s, 0)) // $PrDen AS BIGINT)
         |        AS pr
         |    FROM p$k n LEFT JOIN (
         |      SELECT e.dst AS id, sum(p.pr // o.d) AS s
         |      FROM edges e
         |      JOIN od o ON o.src = e.src
         |      JOIN p$k p ON p.id = e.src
         |      GROUP BY e.dst) c ON c.id = n.id)""".stripMargin
    }.mkString(",\n  ")
    s"""WITH cand AS (${QueriesML.minhashLshPairsSql}),
       |  edges AS (SELECT id_a AS src, id_b AS dst FROM cand
       |    UNION ALL SELECT id_b AS src, id_a AS dst FROM cand),
       |  od AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
       |  p0 AS (SELECT doc_id AS id, CAST(1000000000 AS BIGINT) AS pr
       |    FROM documents),
       |  $iters
       |SELECT id AS doc_id, pr AS pr_e9 FROM p$PrIters""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Substring-level dedup: corpus-wide repeated k-token spans, merged
  // into maximal per-document intervals (the passage-level boilerplate
  // doc-level near-dup cannot see)
  // ---------------------------------------------------------------------
  val SpanK = 5
  val SpanMinDocs = 2

  def repeatedSpans(s: SparkSession, dir: String): DataFrame =
    // the shingle explode (the operator's heaviest narrow stage, run
    // for both the DF-count and the semi-join branch) inherits input
    // parallelism — guard against single-row-group files
    Spans.repeatedSpans(
      ScaleOps.ensureParallelism(t(s, dir, "documents"),
        s.sparkContext.defaultParallelism),
      "doc_id", "text", SpanK, SpanMinDocs)

  val repeatedSpansSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts
       |    FROM documents),
       |  shing AS (
       |    SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
       |        array_to_string(ts[u.i:u.i+${SpanK - 1}], ' ') AS sh
       |    FROM toks, UNNEST(range(1, len(ts) - ${SpanK - 2})) AS u(i)
       |    WHERE len(ts) >= $SpanK),
       |  rep AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS nd
       |      FROM shing GROUP BY sh) WHERE nd >= $SpanMinDocs),
       |  rpos AS (SELECT s.doc_id, s.pos FROM shing s JOIN rep USING (sh)),
       |  isl AS (SELECT doc_id, pos,
       |      CASE WHEN max(pos) OVER w IS NULL
       |            OR pos > max(pos) OVER w + $SpanK THEN 1 ELSE 0 END AS ni
       |    FROM rpos
       |    WINDOW w AS (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |  grp AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id
       |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS g FROM isl),
       |  spans AS (SELECT doc_id, g, min(pos) AS s, max(pos) + ${SpanK - 1}
       |      AS e FROM grp GROUP BY doc_id, g),
       |  agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |      CAST(sum(e - s + 1) AS BIGINT) AS repeated_tokens
       |    FROM spans GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_spans, 0) AS n_spans,
       |    coalesce(repeated_tokens, 0) AS repeated_tokens
       |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------------
  // Mixture realization + domain caps: deterministic hash sampling to
  // target per-source rates, and per-domain top-n caps via the
  // partial-aggregable TopKAgg cut (no full-domain window shuffle)
  // ---------------------------------------------------------------------
  val MixRatesPpm: Map[String, Int] = Map("src0" -> 800000, "src1" -> 500000)
  val MixDefaultPpm = 250000
  val MixSalt = "mix1"
  val CapN = 10
  val CapSalt = "cap1"

  def mixtureSample(s: SparkSession, dir: String): DataFrame =
    Curation.mixtureSample(t(s, dir, "documents"), "source", "doc_id",
      MixRatesPpm, MixDefaultPpm, MixSalt)
      .select(col("doc_id"), col("source"))

  val mixtureSampleSql: String = {
    val hash = graft.functions.StableHash
      .stable32Sql(s"CAST(doc_id AS VARCHAR) || '$MixSalt'")
    val cases = MixRatesPpm.toSeq.sortBy(_._1)
      .map { case (g, p) => s"WHEN source = '$g' THEN $p" }.mkString(" ")
    s"""SELECT doc_id, source FROM documents
       |WHERE $hash % 1000000 < CASE $cases ELSE $MixDefaultPpm END""".stripMargin
  }

  val ResampleRatesPpm: Map[String, Int] =
    Map("src0" -> 2500000, "src1" -> 400000)
  val ResampleDefaultPpm = 1000000
  val ResampleSalt = "re1"

  def mixtureResample(s: SparkSession, dir: String): DataFrame =
    Curation.mixtureResample(t(s, dir, "documents"), "source", "doc_id",
      ResampleRatesPpm, ResampleDefaultPpm, ResampleSalt)
      .select(col("doc_id"), col("source"), col("copy"))

  val mixtureResampleSql: String = {
    val hash = graft.functions.StableHash
      .stable32Sql(s"CAST(doc_id AS VARCHAR) || '$ResampleSalt'")
    val cases = ResampleRatesPpm.toSeq.sortBy(_._1)
      .map { case (g, p) => s"WHEN source = '$g' THEN $p" }.mkString(" ")
    val rate = s"(CASE $cases ELSE $ResampleDefaultPpm END)"
    s"""SELECT doc_id, source, CAST(u.c AS BIGINT) AS copy FROM (
       |  SELECT doc_id, source,
       |      $rate // 1000000
       |      + CASE WHEN $hash % 1000000 < $rate % 1000000
       |             THEN 1 ELSE 0 END AS n
       |  FROM documents) d, UNNEST(range(d.n)) AS u(c)""".stripMargin
  }

  def domainCap(s: SparkSession, dir: String): DataFrame =
    Curation.domainCap(t(s, dir, "documents"), "source", "doc_id",
      CapN, CapSalt)
      .select(col("doc_id"), col("source"))

  val domainCapSql: String = {
    val hash = graft.functions.StableHash
      .stable32Sql(s"CAST(doc_id AS VARCHAR) || '$CapSalt'")
    s"""SELECT doc_id, source FROM (
       |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
       |      ORDER BY $hash, doc_id) AS rn
       |  FROM documents) WHERE rn <= $CapN""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_minhash_lsh_capped" -> (minhashLshCapped _),
    "q_triangle_count" -> (triangleCount _),
    "q_pagerank" -> (pageRank _),
    "q_histogram" -> (histogram _),
    "q_outlier_mad" -> (outlierMad _),
    "q_global_rank" -> (globalRank _),
    "q_zorder" -> (zorderKey _),
    "q_zorder3" -> (zorderKey3 _),
    "q_heavy_hitters" -> (heavyHitters _),
    "q_repeated_spans" -> (repeatedSpans _),
    "q_mixture_sample" -> (mixtureSample _),
    "q_mixture_resample" -> (mixtureResample _),
    "q_domain_cap" -> (domainCap _),
  )

  val oracles: Map[String, String] = Map(
    "q_minhash_lsh_capped" -> minhashLshCappedSql,
    "q_triangle_count" -> triangleCountSql,
    "q_pagerank" -> pageRankSql,
    "q_histogram" -> histogramSql,
    "q_outlier_mad" -> outlierMadSql,
    "q_global_rank" -> globalRankSql,
    "q_zorder" -> zorderKeySql,
    "q_zorder3" -> zorderKey3Sql,
    "q_heavy_hitters" -> heavyHittersSql,
    "q_repeated_spans" -> repeatedSpansSql,
    "q_mixture_sample" -> mixtureSampleSql,
    "q_mixture_resample" -> mixtureResampleSql,
    "q_domain_cap" -> domainCapSql,
  )
}
