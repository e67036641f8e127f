package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.StableHash
import graft.multimodal.Multimodal
import graft.operators._
import graft.streaming.EventStream

/** Training-data pipeline queries: dedup, similarity search, text
  * analysis, multimodal plumbing, streaming — the beyond-reference
  * operator families (builder prompt / BASELINE.json north star).
  *
  * Oracle SQL for hash-based operators is GENERATED from the same
  * constants as the Spark plan (StableHash), so both engines compute
  * bit-identical signatures.
  */
object QueriesML {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------------
  // Dedup: exact
  // ---------------------------------------------------------------------
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), Seq("text"), "doc_id")

  val dedupExactSql: String =
    """SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id,
      |  count(*) AS dup_count FROM documents GROUP BY text""".stripMargin

  // ---------------------------------------------------------------------
  // Text statistics + quality score
  // ---------------------------------------------------------------------
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val st = TextAnalysis.stats(t(s, dir, "documents"), "text")
    st.select(col("doc_id"), col("n_tokens"), col("stop_hits"),
      col("punct_chars"),
      TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens"),
      round(TextAnalysis.qualityScore(col("n_tokens"), col("stop_hits"),
        col("punct_chars"), col("n_chars_m")), 6).as("quality_r"))
  }

  /** DuckDB twin of round(TextAnalysis.qualityScore(...), 6). */
  private val qualitySql: String =
    """round((
      |    CAST(least(len(string_split(text, ' ')), 100) AS DOUBLE) / 100.0
      |    + (1.0 - CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a'))) AS DOUBLE)
      |            / CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE))
      |    + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
      |            / CAST(greatest(length(text), 1) AS DOUBLE))
      |  ) / 3.0, 6)""".stripMargin

  val textStatsSql: String =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a'))) AS INT) AS stop_hits,
       |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INT) AS punct_chars,
       |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS bpe_tokens,
       |  $qualitySql AS quality_r
       |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // Language-ID heuristic (stopword profiles, argmax w/ ordered tiebreak)
  // ---------------------------------------------------------------------
  def langId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextAnalysis.langId(col("text")).as("lang_pred"))

  /** DuckDB per-language stopword-count projections (c_en, c_es, ...). */
  private val langCountSql: String = TextAnalysis.LangStopwords.map {
    case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(",")
      s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS INT) AS c_$lang"
  }.mkString(",\n    ")

  /** DuckDB argmax-with-declared-order-tiebreak over the c_* counts. */
  private val langCaseSql: String = {
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val maxExpr = langs.map(l => s"c_$l").mkString("greatest(", ", ", ")")
    val caseArms = langs.map { l =>
      s"WHEN c_$l > 0 AND c_$l = $maxExpr THEN '$l'"
    }.mkString("\n    ")
    s"CASE\n    $caseArms\n    ELSE 'und' END"
  }

  val langIdSql: String =
    s"""SELECT doc_id, lang,
       |  $langCaseSql AS lang_pred
       |FROM (SELECT doc_id, lang,
       |    $langCountSql
       |  FROM documents)""".stripMargin

  // ---------------------------------------------------------------------
  // Deterministic train/valid/test split: hash-of-id assignment, stable
  // across runs, engines, and cluster sizes (never sample() — that
  // depends on partitioning)
  // ---------------------------------------------------------------------
  val SplitSalt = "#graft-split-1"

  def sampleSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = StableHash.stable32(
      concat(col("doc_id").cast("string"), lit(SplitSalt))) % 100
    t(s, dir, "documents").select(col("doc_id"), bucket.as("bucket"),
      when(bucket < 80, "train").when(bucket < 90, "valid")
        .otherwise("test").as("split"))
  }

  val sampleSplitSql: String = {
    val bucket = StableHash.stable32Sql(s"CAST(doc_id AS VARCHAR) || '$SplitSalt'") + " % 100"
    s"""SELECT doc_id, CAST($bucket AS BIGINT) AS bucket,
       |  CASE WHEN $bucket < 80 THEN 'train'
       |       WHEN $bucket < 90 THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM documents""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Epoch shuffle into loader shards (Curation.epochShards): the
  // whole corpus deterministically permuted into 8 balanced shards
  // with dense within-shard positions — one hash exchange, per-reducer
  // sort bounded by corpus/numShards, no total sort. The oracle
  // replays the same md5 hash family in DuckDB; the hash gate pins
  // shard membership AND order byte-identically across engines.
  // ---------------------------------------------------------------------
  val EpochShardsN = 8
  val EpochTag = "epoch-3"

  def epochShards(s: SparkSession, dir: String): DataFrame =
    Curation.epochShards(t(s, dir, "documents").select(col("doc_id")),
      "doc_id", EpochShardsN, EpochTag)

  val epochShardsSql: String = {
    val h = StableHash.stable32Sql(
      s"CAST(doc_id AS VARCHAR) || ':$EpochTag'")
    s"""SELECT doc_id, CAST(($h) % $EpochShardsN AS INT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY ($h) % $EpochShardsN
       |    ORDER BY $h ASC, doc_id ASC) AS INT) AS pos
       |FROM documents""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Deterministic stratified sample: exactly K docs per language,
  // selected by salted-hash order (uniform within stratum, stable
  // across runs/engines/cluster sizes) — the few-shot / eval-subset
  // selection primitive. One window shuffle on the stratum key.
  // ---------------------------------------------------------------------
  val StratifiedK = 20
  val StratSalt = "#graft-strat-1"

  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = StableHash.stable32(
      concat(col("doc_id").cast("string"), lit(StratSalt)))
    val w = Window.partitionBy(col("lang")).orderBy(h.asc, col("doc_id").asc)
    t(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= StratifiedK)
      .select(col("doc_id"), col("lang"), col("rn"))
  }

  val stratifiedSampleSql: String = {
    val h = StableHash.stable32Sql(s"CAST(doc_id AS VARCHAR) || '$StratSalt'")
    s"""SELECT doc_id, lang, CAST(rn AS INT) AS rn FROM (
       |  SELECT doc_id, lang, row_number() OVER
       |      (PARTITION BY lang ORDER BY $h ASC, doc_id ASC) AS rn
       |  FROM documents)
       |WHERE rn <= $StratifiedK""".stripMargin
  }

  // ---------------------------------------------------------------------
  // End-to-end corpus curation: quality threshold x language agreement x
  // exact-dup keeper — the composed filter chain of a training-data
  // pipeline, entirely narrow except one window on the dedup key
  // ---------------------------------------------------------------------
  val CurationMinQuality = 0.5

  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = TextAnalysis.stats(t(s, dir, "documents"), "text")
    st.withColumn("quality_r",
        round(TextAnalysis.qualityScore(col("n_tokens"), col("stop_hits"),
          col("punct_chars"), col("n_chars_m")), 6))
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("text"))))
      .filter(col("quality_r") >= CurationMinQuality &&
        col("lang_pred") === col("lang") && col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality_r"))
  }

  val curationPipelineSql: String =
    s"""SELECT doc_id, lang, n_tokens, quality_r FROM (
       |  SELECT doc_id, lang, n_tokens, quality_r,
       |    $langCaseSql AS lang_pred,
       |    min(doc_id) OVER (PARTITION BY text) AS keep_id
       |  FROM (
       |    SELECT doc_id, lang, text,
       |      CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |      $qualitySql AS quality_r,
       |      $langCountSql
       |    FROM documents))
       |WHERE quality_r >= $CurationMinQuality AND lang_pred = lang
       |  AND doc_id = keep_id""".stripMargin

  // ---------------------------------------------------------------------
  // FLAGSHIP COMPOSITION — the curated corpus AS A MANAGED TABLE: the
  // full q_curation_pipeline output lands in a lang-partitioned
  // versioned table in two batches (manifest-pruned per-language
  // reads from the first commit), a CHECK constraint guards every
  // commit, and a per-language token-count materialized view follows
  // the table through the change feed (the second batch is absorbed
  // by ONE incremental refresh, never a corpus rescan). The platform
  // story in one gate: curation -> lakehouse table -> incremental
  // rollup, hash-checked against the algebraic oracle end to end.
  // ---------------------------------------------------------------------
  def curatedTable(s: SparkSession, dir: String): DataFrame = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_vcur")
      .toAbsolutePath.toString
    val corpus = scratch + "/corpus"; val mv = scratch + "/mv"
    val curated = curationPipeline(s, dir)
    graft.sources.VersionedTable.commitPartitioned(s, corpus,
      curated.filter(col("doc_id") % 2 === 0), "lang", append = false,
      statCols = Seq("doc_id"))
    graft.sources.VersionedTable.addConstraint(s, corpus,
      "tokens_positive", "n_tokens > 0")
    graft.sources.MaterializedView.build(s, corpus, mv,
      Seq("lang"), Seq("n_tokens"))
    graft.sources.VersionedTable.commitPartitioned(s, corpus,
      curated.filter(col("doc_id") % 2 === 1), "lang", append = true)
    graft.sources.MaterializedView.refresh(s, corpus, mv)
    require(graft.sources.MaterializedView.sourceVersion(s, mv) == 2,
      "the view must have followed the second batch incrementally")
    // every file is lang-tagged: per-language reads prune by manifest
    // alone (at this SF the curation may keep a single language, so
    // the check is tag COVERAGE, not a prune count)
    val m = graft.sources.VersionedTable.manifest(s, corpus, 2)
    val tagged = graft.sources.VersionedTable.partitionsOf(m)
      .filter(_._1 == "lang").map(_._3).toSet
    require(graft.sources.VersionedTable.dataFilesOf(m)
      .forall(tagged.contains),
      "every corpus file must carry its lang partition tag")
    graft.sources.MaterializedView.read(s, mv)
      .select(col("lang"), col("cnt"), col("sum_n_tokens"))
  }

  val curatedTableSql: String =
    s"""SELECT lang, count(*) AS cnt,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_n_tokens
       |FROM ($curationPipelineSql)
       |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // TF-IDF top terms per document (exact integer scoring — no float log,
  // so the ranking is engine-portable)
  // ---------------------------------------------------------------------
  val TfidfK = 3

  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text",
      TfidfK)

  val tfidfTopTermsSql: String =
    s"""WITH toks AS (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |  tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |  dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |  n AS (SELECT count(*) AS n_docs FROM documents),
       |  scored AS (
       |    SELECT doc_id, term, tf, (tf * 1000000 * n_docs) // df AS score_e6
       |    FROM tf JOIN dfreq USING (term) CROSS JOIN n),
       |  ranked AS (SELECT *, row_number() OVER
       |      (PARTITION BY doc_id ORDER BY score_e6 DESC, term ASC) AS rnk
       |    FROM scored)
       |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
       |  CAST(score_e6 AS BIGINT) AS score_e6, CAST(rnk AS INT) AS rnk
       |FROM ranked WHERE rnk <= $TfidfK""".stripMargin

  // ---------------------------------------------------------------------
  // Vocabulary building + per-doc OOV stats (tokenizer-prep primitives)
  // ---------------------------------------------------------------------
  val VocabV = 500

  def vocabulary(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabulary(t(s, dir, "documents"), "text", VocabV)

  val vocabularySql: String =
    s"""WITH toks AS (
       |    SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |  counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
       |  ranked AS (SELECT token, cnt, row_number() OVER
       |      (ORDER BY cnt DESC, token ASC) AS rank
       |    FROM counts)
       |SELECT token, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= $VocabV""".stripMargin

  def oovRate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.oovStats(docs, "doc_id", "text",
      TextAnalysis.vocabulary(docs, "text", VocabV))
  }

  val oovRateSql: String =
    s"""WITH vocab AS (
       |    SELECT token FROM (
       |      SELECT token, row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rank
       |      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |      GROUP BY token)
       |    WHERE rank <= $VocabV),
       |  toks AS (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1000000
       |    // count(*) AS BIGINT) AS oov_rate_e6
       |FROM toks LEFT JOIN vocab v USING (token)
       |GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Collocation mining: top bigrams by exact-integer PMI ratio
  // ---------------------------------------------------------------------
  val CollocMinCount = 5L
  val CollocTopK = 50

  def collocations(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.collocations(t(s, dir, "documents"), "text",
      CollocMinCount, CollocTopK)

  val collocationsSql: String =
    s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
       |  bg AS (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p FROM toks),
       |  big AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS c12
       |    FROM bg GROUP BY 1, 2 HAVING count(*) >= $CollocMinCount),
       |  unic AS (SELECT w, count(*) AS c FROM
       |    (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
       |  n AS (SELECT sum(len(t)) AS n_tokens FROM toks)
       |SELECT w1, w2, c12,
       |  CAST(c12 * n_tokens * 1000000 // (u1.c * u2.c) AS BIGINT) AS pmi_ratio_e6
       |FROM big JOIN unic u1 ON u1.w = big.w1
       |JOIN unic u2 ON u2.w = big.w2 CROSS JOIN n
       |ORDER BY pmi_ratio_e6 DESC, c12 DESC, w1 ASC, w2 ASC
       |LIMIT $CollocTopK""".stripMargin

  // ---------------------------------------------------------------------
  // BM25 ranking: integer fixed-point, literal term query, top-k docs
  // ---------------------------------------------------------------------
  val Bm25Terms = Seq("join", "window", "dup") // common, common, rare
  val Bm25TopK = 20
  val Bm25K1E1 = 12 // k1 = 1.2
  val Bm25BE2 = 75  // b  = 0.75

  def bm25Rank(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopDocs(t(s, dir, "documents"), "doc_id", "text",
      Bm25Terms, Bm25TopK, Bm25K1E1, Bm25BE2)

  val bm25RankSql: String = {
    val terms = Bm25Terms.map(q => s"'$q'").mkString(", ")
    val k1b = Bm25K1E1.toLong * (100 - Bm25BE2) * 1000 // k1(1-b)·1e6
    val k1bb = Bm25K1E1.toLong * Bm25BE2               // k1·b·1e3
    val satNum = (Bm25K1E1 + 10).toLong * 100000000000L
    s"""WITH b2 AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |    string_split(text, ' ') AS toks FROM documents),
       |  totals AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tt FROM b2),
       |  tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM b2),
       |  tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
       |    WHERE term IN ($terms) GROUP BY 1, 2, 3),
       |  dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |  sc AS (SELECT doc_id,
       |      ((nd * 1000000 // df) *
       |       ((tf * $satNum) //
       |        (tf * 1000000 + $k1b + ($k1bb * (dl * nd * 1000000 // tt)) // 1000))
       |      ) // 1000000 AS s
       |    FROM tf JOIN dfreq USING (term) CROSS JOIN totals)
       |SELECT doc_id, CAST(sum(s) AS BIGINT) AS bm25_e6,
       |  count(*) AS n_terms_hit
       |FROM sc GROUP BY 1
       |ORDER BY bm25_e6 DESC, doc_id ASC LIMIT $Bm25TopK""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Kneser-Ney LM count tables: bigram counts + continuation diversity
  // ---------------------------------------------------------------------
  val LmMinCount = 5L
  val LmTopK = 50

  def lmCounts(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramLmCounts(t(s, dir, "documents"), "text",
      LmMinCount, LmTopK)

  val lmCountsSql: String =
    s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
       |  bg AS (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p FROM toks),
       |  allbig AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS c12
       |    FROM bg GROUP BY 1, 2),
       |  unic AS (SELECT w, count(*) AS c FROM
       |    (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
       |  lt AS (SELECT w2, count(*) AS left_types FROM allbig GROUP BY 1),
       |  rt AS (SELECT w1, count(*) AS right_types FROM allbig GROUP BY 1)
       |SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2, left_types, right_types
       |FROM allbig JOIN unic u1 ON u1.w = allbig.w1
       |JOIN unic u2 ON u2.w = allbig.w2
       |JOIN rt USING (w1) JOIN lt USING (w2)
       |WHERE c12 >= $LmMinCount
       |ORDER BY c12 DESC, w1 ASC, w2 ASC LIMIT $LmTopK""".stripMargin

  // ---------------------------------------------------------------------
  // Text normalization: NFC + lower + whitespace collapse. The corpus
  // is already clean, so decomposed accents / case / ragged whitespace
  // are injected deterministically on both engines (the PII-fixture
  // pattern), then both run the same ladder.
  // ---------------------------------------------------------------------
  def normalizeText(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit("  Café   du  Monde\t")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit(" Über  ALLES\n")).otherwise(lit(""))).as("raw"))
      .select(col("doc_id"),
        TextAnalysis.normalizeText(col("raw")).as("norm"))

  val normalizeTextSql: String =
    """WITH p AS (SELECT doc_id, text ||
      |    CASE WHEN doc_id % 7 = 0
      |      THEN '  Cafe' || chr(769) || '   du  Monde' || chr(9)
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0
      |      THEN ' U' || chr(776) || 'ber  ALLES' || chr(10)
      |      ELSE '' END AS raw
      |  FROM documents)
      |SELECT doc_id, trim(regexp_replace(lower(nfc_normalize(raw)),
      |  '[ \t\n\r]+', ' ', 'g')) AS norm
      |FROM p""".stripMargin

  // ---------------------------------------------------------------------
  // Subword tokenization: greedy longest-match against a fixed piece
  // vocabulary (the wordpiece/BPE-apply shape). ONE vocabulary constant
  // (plans.Kernels.WordpieceVocab) drives both the codegen kernel and
  // the generated recursive-CTE oracle, and the md5 of the full piece
  // string rides the gate — a single mis-segmented word anywhere in
  // the corpus fails the hash.
  // ---------------------------------------------------------------------
  def wordpieceTokens(s: SparkSession, dir: String): DataFrame = {
    val enc = org.apache.spark.sql.GraftSqlShims.column(
      graft.plans.WordpieceEncode(
        org.apache.spark.sql.GraftSqlShims.expression(col("text"))))
    t(s, dir, "documents").select(col("doc_id"), enc.as("pieces"))
      .select(col("doc_id"),
        when(col("pieces") === "", 0)
          .otherwise(size(split(col("pieces"), " "))).as("n_pieces"),
        when(col("pieces") === "", 0).otherwise(expr(
          "size(filter(split(pieces, ' '), x -> x = '<unk>'))")).as("n_unk"),
        md5(col("pieces")).as("pieces_md5"))
  }

  lazy val wordpieceTokensSql: String = {
    val vocab = graft.plans.Kernels.WordpieceVocab
    val byLen = vocab.groupBy(_.length)
    val lens = byLen.keys.toSeq.sorted(Ordering[Int].reverse)
    def inList(l: Int) = byLen(l).map(p => s"'$p'").mkString("(", ", ", ")")
    val pieceCase = lens.map(l =>
      s"WHEN substr(rest, 1, $l) IN ${inList(l)} THEN substr(rest, 1, $l)")
      .mkString("CASE ", "\n             ", " ELSE '<unk>' END")
    val advCase = lens.map(l =>
      s"WHEN substr(rest, 1, $l) IN ${inList(l)} THEN $l")
      .mkString("CASE ", "\n             ", " ELSE 1 END")
    s"""WITH RECURSIVE
       |  w AS (SELECT doc_id, i AS wid, s[i] AS word FROM (
       |      SELECT doc_id, string_split(lower(text), ' ') AS s
       |      FROM documents) t,
       |      unnest(generate_series(1, len(s))) AS g(i)
       |    WHERE length(s[i]) > 0),
       |  seg AS (
       |    SELECT doc_id, wid, word AS rest, CAST('' AS VARCHAR) AS pieces
       |    FROM w
       |    UNION ALL
       |    SELECT doc_id, wid, substr(rest, adv + 1),
       |      pieces || CASE WHEN pieces = '' THEN '' ELSE ' ' END || piece
       |    FROM (SELECT doc_id, wid, rest, pieces,
       |        $pieceCase AS piece,
       |        $advCase AS adv
       |      FROM seg WHERE rest <> '') x),
       |  done AS (SELECT doc_id, wid, pieces FROM seg WHERE rest = ''),
       |  dp AS (SELECT doc_id, string_agg(pieces, ' ' ORDER BY wid)
       |      AS pieces FROM done GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN coalesce(p.pieces, '') = '' THEN 0
       |       ELSE CAST(len(string_split(p.pieces, ' ')) AS INT) END AS n_pieces,
       |  CASE WHEN coalesce(p.pieces, '') = '' THEN 0
       |       ELSE CAST(len(list_filter(string_split(p.pieces, ' '),
       |         x -> x = '<unk>')) AS INT) END AS n_unk,
       |  md5(coalesce(p.pieces, '')) AS pieces_md5
       |FROM documents d LEFT JOIN dp p USING (doc_id)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // BPE tokenizer: distributed training (iterative pair-count + merge
  // over the distinct-word table — operators.Bpe) + greedy rank-order
  // application. Training is spec-verified against a driver reference
  // (BpeSpec) and deterministic (commutative argmax fold); the gate
  // covers the APPLY path end-to-end: the learned merge table is
  // embedded as literals in a recursive-CTE oracle (the fitted-model
  // pattern of q_ann_ivf/q_semdedup) that replays the same
  // leftmost-occurrence-of-lowest-rank semantics symbol by symbol —
  // one mis-merged word anywhere in the corpus fails the md5.
  // ---------------------------------------------------------------------
  val BpeMerges = 30

  private val bpeMerges =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Bpe.Merge]]()

  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = bpeMerges.computeIfAbsent(dir,
      _ => Bpe.train(docs, "text", BpeMerges))
    Bpe.applyDf(docs, "doc_id", "text", merges)
  }

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  private def bpeApplySql(merges: Seq[Bpe.Merge]): String = {
    val values = merges
      .map(m => s"(${m.rank}, ${sqlStr(m.left)}, ${sqlStr(m.right)})")
      .mkString(", ")
    s"""WITH RECURSIVE
       |  m(rank, l, r) AS (VALUES $values),
       |  w AS (SELECT doc_id, i AS wid, s[i] AS word FROM (
       |      SELECT doc_id, string_split(lower(text), ' ') AS s
       |      FROM documents) t,
       |      unnest(generate_series(1, len(s))) AS g(i)
       |    WHERE length(s[i]) > 0),
       |  st AS (
       |    SELECT doc_id, wid,
       |      chr(31) || regexp_replace(word, '(?s)(.)', '\\1' || chr(31), 'g') AS s
       |    FROM w
       |    UNION ALL
       |    SELECT doc_id, wid,
       |      substr(s, 1, p - 1) || chr(31) || l || r || chr(31)
       |        || substr(s, p + length(l) + length(r) + 3)
       |    FROM (
       |      SELECT doc_id, wid, s, l, r,
       |        instr(s, chr(31) || l || chr(31) || r || chr(31)) AS p
       |      FROM (
       |        SELECT doc_id, wid, s,
       |          (SELECT min(rank) FROM m
       |            WHERE instr(s, chr(31) || m.l || chr(31) || m.r || chr(31)) > 0) AS br
       |        FROM st) x JOIN m ON m.rank = x.br) y),
       |  fin AS (
       |    SELECT doc_id, wid, s FROM st
       |    WHERE NOT EXISTS (SELECT 1 FROM m
       |      WHERE instr(s, chr(31) || m.l || chr(31) || m.r || chr(31)) > 0)),
       |  tok AS (SELECT doc_id, wid, trim(replace(s, chr(31), ' ')) AS token_str
       |    FROM fin),
       |  dp AS (SELECT doc_id, string_agg(token_str, ' ' ORDER BY wid) AS toks
       |    FROM tok GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN coalesce(p.toks, '') = '' THEN 0
       |       ELSE CAST(len(string_split(p.toks, ' ')) AS INT) END AS n_tokens,
       |  CASE WHEN coalesce(p.toks, '') = '' THEN 0
       |       ELSE CAST(len(list_filter(string_split(p.toks, ' '),
       |         x -> length(x) > 1)) AS INT) END AS n_merged,
       |  md5(coalesce(p.toks, '')) AS tokens_md5
       |FROM documents d LEFT JOIN dp p USING (doc_id)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Unigram LM quality score: mean corpus token probability in exact ppm
  // ---------------------------------------------------------------------
  def lmScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lmUnigramScore(t(s, dir, "documents"), "doc_id", "text")

  val lmScoreSql: String =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM documents),
      |  c AS (SELECT w, count(*) AS cw FROM tk GROUP BY w),
      |  n AS (SELECT count(*) AS nt FROM tk)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum((cw * 1000000) // nt) // count(*) AS BIGINT) AS score_ppm
      |FROM tk JOIN c USING (w), n
      |GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Document fingerprints: content md5 + rolling-hash shingle min
  // ---------------------------------------------------------------------
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    // ~chars-per-doc md5 calls per row: a single-file table would run
    // the whole kernel in ONE task without the parallelism guard
    // (measured 1.87 s -> task-parallel after the split)
    operators.ScaleOps.ensureParallelism(t(s, dir, "documents"),
        s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        TextAnalysis.contentFingerprint(col("text")).as("content_fp"),
        TextAnalysis.shingleFingerprint(col("text"), 8).as("shingle_fp"))

  val fingerprintSql: String =
    s"""SELECT doc_id, md5(lower(trim(text))) AS content_fp,
       |  CAST(list_min(list_transform(
       |    generate_series(1, greatest(length(text) - 7, 1)),
       |    i -> ${StableHash.stable32Sql("substr(text, i, 8)")})) AS BIGINT) AS shingle_fp
       |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // MinHash signatures + LSH candidate pairs
  // ---------------------------------------------------------------------
  val MinhashK = 16   // 4 bands x 4 rows: P(candidate | j=0.5) ~ 0.23,
  val MinhashBands = 4 // steep S-curve around j ~ 0.7 — standard params
  val ShingleN = 5

  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text",
      ShingleN, MinhashK)

  private[graft] val shinglesCte: String =
    s"""sh AS (SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, greatest(length(text) - ${ShingleN - 1}, 1)),
       |      i -> substr(text, i, $ShingleN))) AS shingle
       |    FROM documents)),
       |  hx AS (SELECT doc_id, ${StableHash.stable32Sql("shingle")} AS x FROM sh)""".stripMargin

  private[graft] val sigSelect: String = {
    val cols = (0 until MinhashK).map { i =>
      s"CAST(min(${StableHash.universalSql("x", i)}) AS BIGINT) AS mh$i"
    }.mkString(",\n    ")
    s"SELECT doc_id, $cols FROM hx GROUP BY doc_id"
  }

  val minhashSignaturesSql: String =
    s"WITH $shinglesCte\nSELECT * FROM ($sigSelect)"

  def minhashLshPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
      ShingleN, MinhashK, MinhashBands)

  val minhashLshPairsSql: String = {
    val r = MinhashK / MinhashBands
    val bandSelects = (0 until MinhashBands).map { b =>
      val sigCols = (b * r until (b + 1) * r).map(i => s"mh$i").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', $sigCols)) AS bk FROM sig"
    }.mkString("\n    UNION ALL ")
    s"""WITH $shinglesCte,
       |  sig AS ($sigSelect),
       |  bands AS ($bandSelects)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
       |  AND a.doc_id < b.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // n-gram Jaccard near-dup pairs (blocked by lang)
  // ---------------------------------------------------------------------
  val JaccardThreshold = 0.5

  val JaccardW = 3

  /** Near-dup pairs: MinHash-LSH candidate generation -> exact word
    * 3-gram Jaccard verification of ONLY the candidates (one codegen'd
    * per-pair kernel, [[graft.plans.WordJaccard]]).
    *
    * This is the scale-path composition: the r2 formulation — a blocked
    * inverted-index self-join ([[Dedup.ngramJaccardPairs]], kept as an
    * operator + spec) — re-derived the shingling subtree on both join
    * sides and fanned out quadratically on high-DF shingles within
    * blocks (8.9 s at sf0.1, 24% of the whole bench; driver BENCH_r02).
    * Verifying LSH candidates touches O(candidates) rows instead. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text",
      ShingleN, MinhashK, MinhashBands)
    Dedup.jaccardVerifyPairs(cands, docs, "doc_id", "text", JaccardW,
      JaccardThreshold)
  }

  /** EXACT similarity self-join via prefix filtering — recall-1 twin
    * of q_ngram_jaccard's LSH→verify composition: the oracle here is
    * the full all-pairs ground truth, so a single missed pair fails
    * the gate (LSH cannot make that promise; its oracle mirrors the
    * banding). */
  def jaccardPrefixJoin(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPrefixJoin(t(s, dir, "documents"), "doc_id", "text",
      JaccardW, JaccardThreshold)

  // lazy: interpolates wordShinglesCte, declared further down the file
  lazy val jaccardPrefixJoinSql: String =
    s"""WITH $wordShinglesCte,
       |  sizes AS (SELECT doc_id, count(*) AS sz FROM wsh GROUP BY doc_id),
       |  inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      count(*) AS i
       |    FROM wsh a JOIN wsh b
       |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE)
       |  >= $JaccardThreshold""".stripMargin

  /** Fuzzy JOIN across two corpora: the parity split of `documents`
    * stands in for two distinct corpora (scraped vs curated) — LSH
    * candidates LEFT(even ids) × RIGHT(odd ids), word-Jaccard verified
    * once per pair. Exercises [[Dedup.fuzzyJoin]], the cross-corpus
    * twin of q_ngram_jaccard's self-join composition. */
  def fuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.fuzzyJoin(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", ShingleN, MinhashK, MinhashBands,
      JaccardW, JaccardThreshold)
  }

  // lazy: interpolates wordShinglesCte, declared further down the file
  lazy val fuzzyJoinSql: String = {
    val r = MinhashK / MinhashBands
    val bandSelects = (0 until MinhashBands).map { b =>
      val sigCols = (b * r until (b + 1) * r).map(i => s"mh$i").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', $sigCols)) AS bk FROM sig"
    }.mkString("\n    UNION ALL ")
    s"""WITH $shinglesCte,
       |  sig AS ($sigSelect),
       |  bands AS ($bandSelects),
       |  cand AS (SELECT DISTINCT a.doc_id AS id_l, b.doc_id AS id_r
       |    FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
       |    WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
       |  $wordShinglesCte,
       |  sizes AS (SELECT doc_id, count(*) AS sz FROM wsh GROUP BY doc_id),
       |  inter AS (
       |    SELECT c.id_l, c.id_r, count(*) AS i
       |    FROM cand c
       |    JOIN wsh a ON a.doc_id = c.id_l
       |    JOIN wsh b ON b.doc_id = c.id_r AND b.shingle = a.shingle
       |    GROUP BY 1, 2)
       |SELECT id_l, id_r,
       |  CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_l
       |JOIN sizes sb ON sb.doc_id = id_r
       |WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= $JaccardThreshold""".stripMargin
  }

  /** Word w-gram shingle CTE (DuckDB) — oracle twin of
    * [[graft.plans.WordShingleArray]]; retained for the blocked-exact
    * Jaccard spec oracle (JaccardOracleSpec). */
  private[graft] val wordShinglesCte: String =
    s"""wsh AS (SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, greatest(len(string_split(text, ' ')) - ${3 - 1}, 1)),
       |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + ${3 - 1}), ' '))) AS shingle
       |    FROM documents))""".stripMargin

  /** Blocked-exact word-gram Jaccard SQL (DuckDB) — the r2 oracle for
    * [[Dedup.ngramJaccardPairs]], retained for its spec. */
  private[graft] val ngramJaccardBlockedSql: String =
    s"""WITH $wordShinglesCte,
       |  sizes AS (SELECT doc_id, count(*) AS sz FROM wsh GROUP BY doc_id),
       |  blk AS (SELECT s.doc_id,
       |            concat_ws('_', d.lang, length(d.text) // 64) AS bk,
       |            s.shingle
       |          FROM wsh s JOIN documents d USING (doc_id)),
       |  inter AS (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |    FROM blk a JOIN blk b
       |      ON a.bk = b.bk AND a.shingle = b.shingle
       |      AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= $JaccardThreshold""".stripMargin

  /** Composed LSH->verify oracle: the candidate CTEs are byte-identical
    * to [[minhashLshPairsSql]] (hash-match-proven); verification joins
    * each candidate pair to its distinct word-shingle set (the
    * [[graft.plans.WordJaccard]] kernel's declarative twin). */
  val ngramJaccardSql: String = {
    val r = MinhashK / MinhashBands
    val bandSelects = (0 until MinhashBands).map { b =>
      val sigCols = (b * r until (b + 1) * r).map(i => s"mh$i").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', $sigCols)) AS bk FROM sig"
    }.mkString("\n    UNION ALL ")
    s"""WITH $shinglesCte,
       |  sig AS ($sigSelect),
       |  bands AS ($bandSelects),
       |  cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |    FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
       |      AND a.doc_id < b.doc_id),
       |  $wordShinglesCte,
       |  sizes AS (SELECT doc_id, count(*) AS sz FROM wsh GROUP BY doc_id),
       |  inter AS (
       |    SELECT c.id_a, c.id_b, count(*) AS i
       |    FROM cand c
       |    JOIN wsh a ON a.doc_id = c.id_a
       |    JOIN wsh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
       |    GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= $JaccardThreshold""".stripMargin
  }

  // ---------------------------------------------------------------------
  // SimHash signatures
  // ---------------------------------------------------------------------
  def simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash32(t(s, dir, "documents"), "doc_id", "text")

  val simhashSql: String = {
    val bitSums = (0 until 32).map { j =>
      s"sum(CASE WHEN (h >> $j) % 2 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n      ")
    val sigSum = (0 until 32).map { j =>
      s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toks AS (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |  hs AS (SELECT doc_id, ${StableHash.stable32Sql("tok")} AS h FROM toks),
       |  bits AS (SELECT doc_id,
       |      $bitSums
       |    FROM hs GROUP BY doc_id)
       |SELECT doc_id, CAST($sigSum AS BIGINT) AS simhash FROM bits""".stripMargin
  }

  // ---------------------------------------------------------------------
  // SimHash near-dup pairs (bit-block blocked hamming join)
  // ---------------------------------------------------------------------
  val SimhashMaxHamming = 8

  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
      SimhashMaxHamming)

  val SimhashBlocks = 4

  /** Bit-block-rotation twin of [[Dedup.simhashPairs]]: candidates are
    * pairs agreeing on ANY of the 4 8-bit blocks, deduplicated. */
  val simhashPairsSql: String = {
    val bits = 32 / SimhashBlocks
    val mask = (1L << bits) - 1
    val blockRows = (0 until SimhashBlocks)
      .map(j => s"($j, $j * $bits)").mkString(", ")
    s"""WITH base AS ($simhashSql),
       |  blk AS (SELECT doc_id, simhash, j,
       |      (simhash >> sh) & $mask AS bkey
       |    FROM base, (VALUES $blockRows) t(j, sh))
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM blk a JOIN blk b
       |  ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Dedup clusters: near-dup pairs -> connected components (K rounds of
  // min-label propagation; K is part of the contract so the oracle is
  // the same K-step recurrence in SQL)
  // ---------------------------------------------------------------------
  val ClusterRounds = 6

  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", SimhashMaxHamming)
    Dedup.minLabelClusters(docs.select(col("doc_id")), "doc_id",
      pairs, "id_a", "id_b", ClusterRounds)
  }

  val dedupClustersSql: String = {
    val steps = (0 until ClusterRounds).map { k =>
      s"""l${k + 1} AS (
         |    SELECT l.id AS id, least(l.lbl, coalesce(min(nb.lbl), l.lbl)) AS lbl
         |    FROM l$k l
         |    LEFT JOIN edges e ON e.src = l.id
         |    LEFT JOIN l$k nb ON nb.id = e.dst
         |    GROUP BY l.id, l.lbl)""".stripMargin
    }.mkString(",\n  ")
    s"""WITH pairs AS ($simhashPairsSql),
       |  edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |    UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |  l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM documents),
       |  $steps
       |SELECT id AS doc_id, lbl AS cluster, id = lbl AS keep
       |FROM l$ClusterRounds""".stripMargin
  }

  // ---------------------------------------------------------------------
  // TRUE-fixpoint connected components (alternating large-star /
  // small-star contraction — Graph.connectedComponents). The gate
  // graph is the shape CC exists for — long chains (diameter ~100,
  // where q_dedup_clusters' K-hop contract cannot reach the component
  // min) fused by sparse long-range links: edges (i, i+1) within
  // 100-wide runs of doc ids, plus (i, i*7 mod n) jumps every 37th id.
  // (Running CC on the DENSE near-dup pair graph works — union-find
  // spec covers density — but is the wrong tool there: minLabel's K
  // rounds already converge on tiny diameters for half the cost.) The
  // oracle is a recursive-CTE reachability closure + min —
  // per-component-quadratic, fine at gate scale, while the Spark side
  // contracts in O(log^2) rounds.
  // ---------------------------------------------------------------------
  def connectedComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.count()
    val chain = docs.filter(col("doc_id") % 100 =!= 99)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
    val jumps = docs.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").as("id_a"),
        (col("doc_id") * 7 % n).as("id_b"))
    Graph.connectedComponents(docs.select(col("doc_id")), "doc_id",
      chain.unionAll(jumps), "id_a", "id_b")
  }

  val connectedComponentsSql: String =
    s"""WITH RECURSIVE n AS (SELECT count(*) AS n FROM documents),
       |  pairs AS (
       |    SELECT doc_id AS a, doc_id + 1 AS b FROM documents
       |    WHERE doc_id % 100 <> 99
       |    UNION ALL
       |    SELECT doc_id AS a, doc_id * 7 % n.n AS b FROM documents, n
       |    WHERE doc_id % 37 = 0),
       |  e AS (SELECT a, b FROM pairs WHERE a <> b
       |    UNION SELECT b, a FROM pairs WHERE a <> b),
       |  reach(a, b) AS (
       |    SELECT doc_id, doc_id FROM documents
       |    UNION
       |    SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
       |SELECT a AS doc_id, min(b) AS cluster, min(b) = a AS keep
       |FROM reach GROUP BY a""".stripMargin

  // ---------------------------------------------------------------------
  // Cluster representative selection: the highest-quality (most words,
  // then smallest id) member of each near-dup cluster — "keep the best
  // copy", composing the gated cluster assignment with a quality key
  // ---------------------------------------------------------------------
  def clusterKeeper(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val quality = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_words"))
    Dedup.clusterRepresentatives(dedupClusters(s, dir), "doc_id", "cluster",
      quality, "n_words")
  }

  val clusterKeeperSql: String =
    s"""WITH cl AS ($dedupClustersSql),
       |  q AS (SELECT doc_id,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
       |    FROM documents),
       |  j AS (SELECT cl.cluster, cl.doc_id, q.n_words,
       |      CAST(count(*) OVER (PARTITION BY cl.cluster) AS BIGINT)
       |        AS n_members,
       |      row_number() OVER (PARTITION BY cl.cluster
       |        ORDER BY q.n_words DESC, cl.doc_id ASC) AS rn
       |    FROM cl JOIN q USING (doc_id))
       |SELECT cluster, doc_id AS keeper_id, n_words, n_members
       |FROM j WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // ANN: brute-force cosine top-k (fixed-point exact arithmetic)
  // ---------------------------------------------------------------------
  val AnnK = 3
  val AnnQueryCount = 5

  /** Served by the native partial-aggregable TopKAgg aggregate (scale path);
    * row-identical to the window-function variant (SimilaritySpec). */
  def annBruteTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteTopKAgg(emb, emb.filter(col("vec_id") < AnnQueryCount),
      "vec_id", "embedding", AnnK)
  }

  private val fixedPointCte: String =
    s"""fp AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * ${Similarity.Scale}.0) AS BIGINT)) AS v
       |  FROM embeddings),
       |  nrm AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2 FROM fp)""".stripMargin

  val annBruteTopKSql: String =
    s"""WITH $fixedPointCte,
       |  scored AS (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |      CAST(list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) AS DOUBLE)
       |        / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cos
       |    FROM nrm q, nrm c
       |    WHERE q.vec_id < $AnnQueryCount AND c.vec_id <> q.vec_id),
       |  ranked AS (SELECT *, row_number() OVER
       |      (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
       |    FROM scored)
       |SELECT query_id, cand_id, CAST(rank AS INT) AS rank,
       |  round(cos, 6) AS cos_r
       |FROM ranked WHERE rank <= $AnnK""".stripMargin

  // ---------------------------------------------------------------------
  // ANN: LSH-bucketed (sign random projection) — the scale path
  // ---------------------------------------------------------------------
  val AnnDim = 64
  val AnnPlanes = 6
  val AnnTables = 4

  def annLshTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshBucketTopK(emb, emb.filter(col("vec_id") < AnnQueryCount),
      "vec_id", "embedding", AnnDim, AnnK, AnnPlanes, AnnTables,
      probeRadius = 1)
  }

  /** SRP bucket expression over a fixed-point list column `v` — the
    * SAME deterministic hyperplane weights the Spark plan bakes in as
    * literals (StableHash.universalConst). `planeOffset` selects a
    * disjoint hyperplane set per blocking table. */
  private def srpBucketSqlExpr(v: String, planeOffset: Int = 0): String = {
    val planes = (0 until AnnPlanes).map { p =>
      val terms = (0 until AnnDim).map { j =>
        val w = StableHash
          .universalConst((planeOffset + p).toLong * AnnDim + j) % 16 - 8
        s"($w)*$v[${j + 1}]"
      }.mkString(" + ")
      s"(CASE WHEN ($terms) > 0 THEN ${1L << p} ELSE 0 END)"
    }
    planes.mkString("(", " + ", ")")
  }

  val annLshTopKSql: String = {
    // one equi-join per SRP table (disjoint hyperplane sets via
    // planeOffset), UNION-deduplicated BEFORE cosine — the same
    // candidates-across-tables-then-verify-once semantics as
    // Similarity.lshBucketTopK. Query side multiprobes the full
    // Hamming-radius-1 ball (own bucket + every single-bit XOR flip),
    // mirroring probeRadius = 1.
    val probeMasks = (0 until AnnPlanes).map(p => 1L << p)
    val probeList = ("bucket" +: probeMasks.map(m => s"xor(bucket, $m)"))
      .mkString("[", ", ", "]")
    val perTable = (0 until AnnTables).map { tbl =>
      s"""    SELECT q.vec_id AS query_id, c.vec_id AS cand_id
         |    FROM qb$tbl q JOIN bk$tbl c ON q.bucket = c.bucket
         |    WHERE c.vec_id <> q.vec_id""".stripMargin
    }.mkString("\n    UNION\n")
    val tableCtes = (0 until AnnTables).flatMap { tbl =>
      Seq(
        s"bk$tbl AS (SELECT vec_id, ${srpBucketSqlExpr("v", tbl * AnnPlanes)} AS bucket FROM nrm)",
        s"qb$tbl AS (SELECT vec_id, unnest($probeList) AS bucket FROM bk$tbl WHERE vec_id < $AnnQueryCount)")
    }.mkString(",\n  ")
    s"""WITH $fixedPointCte,
       |  $tableCtes,
       |  cand AS (
       |$perTable),
       |  scored AS (
       |    SELECT cand.query_id, cand.cand_id,
       |      CAST(list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) AS DOUBLE)
       |        / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cos
       |    FROM cand
       |    JOIN nrm q ON q.vec_id = cand.query_id
       |    JOIN nrm c ON c.vec_id = cand.cand_id),
       |  ranked AS (SELECT *, row_number() OVER
       |      (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
       |    FROM scored)
       |SELECT query_id, cand_id, CAST(rank AS INT) AS rank,
       |  round(cos, 6) AS cos_r
       |FROM ranked WHERE rank <= $AnnK""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ANN: IVF (k-means coarse quantizer, probe nearest cells). The
  // iterative fit itself is not SQL, but it is DETERMINISTIC (lowest-k
  // init, exact integer arithmetic) — so the oracle SQL is GENERATED
  // after fit with the fitted centroid matrix inlined as literals
  // (assignment / nprobe / cosine ranking are then pure SQL), the same
  // literal-inlining annLshTopKSql uses for its hyperplanes.
  // ---------------------------------------------------------------------
  val IvfClusters = 16
  val IvfIters = 3
  val IvfNprobe = 4

  /** Fitted centroids per sf dir, recorded on each query run (identical
    * every run — fit is deterministic) so [[oracles]] can inline them.
    * Verify dumps oracle SQL AFTER running the queries. */
  private val ivfCents =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Long]]]()

  def annIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = KMeans.fitOn(emb, "vec_id", "embedding", IvfClusters, IvfIters)
    ivfCents.put(dir, cents)
    KMeans.ivfTopKWith(cents, emb, emb.filter(col("vec_id") < AnnQueryCount),
      "vec_id", "embedding", AnnK, IvfNprobe)
  }

  /** DuckDB twin of [[KMeans.ivfTopKWith]] given a fixed centroid
    * matrix: per-row distance list (exact BIGINT |v|^2-2<v,c>+|c|^2),
    * assignment = first index of the minimum (ties -> lowest cell,
    * matching plans.NearestCentroid), probe cells = first nprobe of the
    * (d, i)-sorted struct list (matching array_sort over struct(d,i)),
    * then the proven exact-cosine ranking. */
  /** The DuckDB centroid-distance SQL pieces a fixed matrix inlines:
    * (distance-list expression over columns v/n2, probe struct list
    * over column dl). */
  private def centsSqlParts(cents: Array[Array[Long]]): (String, String) = {
    val dists = cents.map { c =>
      val dot = c.zipWithIndex.map { case (w, j) => s"($w)*v[${j + 1}]" }
        .mkString(" + ")
      val cNorm2 = c.map(x => x * x).sum
      s"n2 - 2*($dot) + $cNorm2"
    }
    val dlist = dists.mkString("[", ",\n      ", "]")
    val structs = cents.indices.map(i => s"{'d': dl[${i + 1}], 'i': $i}")
      .mkString("[", ", ", "]")
    (dlist, structs)
  }

  def annIvfTopKSql(cents: Array[Array[Long]]): String = {
    val (dlist, structs) = centsSqlParts(cents)
    s"""WITH $fixedPointCte,
       |  dlists AS (SELECT vec_id, v, n2, $dlist AS dl FROM nrm),
       |  assigned AS (SELECT vec_id AS cand_id, v AS cv, n2 AS cn2,
       |      list_position(dl, list_min(dl)) - 1 AS cell FROM dlists),
       |  qp AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2,
       |      unnest(list_transform(list_sort($structs), x -> x.i)[1:$IvfNprobe]) AS cell
       |    FROM dlists WHERE vec_id < $AnnQueryCount),
       |  scored AS (SELECT query_id, cand_id,
       |      CAST(list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2])) AS DOUBLE)
       |        / sqrt(CAST(qn2 AS DOUBLE) * CAST(cn2 AS DOUBLE)) AS cos
       |    FROM assigned JOIN qp USING (cell)
       |    WHERE cand_id <> query_id),
       |  ranked AS (SELECT *, row_number() OVER
       |      (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
       |    FROM scored)
       |SELECT query_id, cand_id, CAST(rank AS INT) AS rank,
       |  round(cos, 6) AS cos_r
       |FROM ranked WHERE rank <= $AnnK""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ANN over the PERSISTED vector index ([[graft.sources
  // .VersionedTable.vectorIndexBuild]]): at 100 TB the IVF structure
  // is built ONCE and probed many times — this gate proves the whole
  // lifecycle. The embeddings land in a versioned table WITHOUT the
  // late slice (vec_id % 10 == 7), the index is built, the late slice
  // is appended AFTER — so the probe must serve indexed files from
  // the cell-partitioned sidecar (the in-query require pins exactly
  // one re-scanned file) while the un-indexed appendees brute-force
  // into the candidate pool, row-identical to the oracle's
  // assigned-join ∪ late-cross construction over the same inlined
  // centroid matrix.
  // ---------------------------------------------------------------------
  val VecIdxLateMod = 10
  val VecIdxLateRem = 7

  private val vecIdxCents =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Long]]]()

  def annIndex(s: SparkSession, dir: String): DataFrame = {
    val VT = graft.sources.VersionedTable
    val emb = t(s, dir, "embeddings")
    val late = col("vec_id") % VecIdxLateMod === VecIdxLateRem
    val table = java.nio.file.Files
      .createTempDirectory("graft_vecidx").toString + "/emb"
    VT.commit(s, table,
      emb.filter(!late).repartitionByRange(4, col("vec_id")),
      append = false, statCols = Seq("vec_id"))
    VT.vectorIndexBuild(s, table, "vec_id", "embedding",
      IvfClusters, IvfIters)
    VT.commit(s, table, emb.filter(late).coalesce(1), append = true)
    vecIdxCents.put(dir,
      VT.vectorIndexCentroids(s, table, "embedding").get)
    var scanned = (-1, -1)
    VT.vectorIndexProbeNotifier = (r, n) => scanned = (r, n)
    try {
      val out = VT.vectorIndexTopK(s, table, "embedding",
        emb.filter(col("vec_id") < AnnQueryCount), "vec_id",
        AnnK, IvfNprobe).getOrElse(sys.error("index must be usable"))
      require(scanned == ((1, 5)),
        s"the probe must re-scan exactly the one appended file " +
          s"and serve the 4 indexed ones from the sidecar: $scanned")
      out
    } finally VT.vectorIndexProbeNotifier = (_, _) => ()
  }

  /** DuckDB twin of the persisted-index probe: IVF candidates from
    * the indexed (non-late) rows via the inlined centroid matrix,
    * union every late row brute-forced against every query, then the
    * proven exact-cosine ranking. */
  def annIndexSql(cents: Array[Array[Long]]): String = {
    val (dlist, structs) = centsSqlParts(cents)
    s"""WITH $fixedPointCte,
       |  dlists AS (SELECT vec_id, v, n2, $dlist AS dl FROM nrm),
       |  assigned AS (SELECT vec_id AS cand_id, v AS cv, n2 AS cn2,
       |      list_position(dl, list_min(dl)) - 1 AS cell FROM dlists
       |    WHERE vec_id % $VecIdxLateMod <> $VecIdxLateRem),
       |  qp AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2,
       |      unnest(list_transform(list_sort($structs), x -> x.i)[1:$IvfNprobe]) AS cell
       |    FROM dlists WHERE vec_id < $AnnQueryCount),
       |  qs AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2
       |    FROM nrm WHERE vec_id < $AnnQueryCount),
       |  cand AS (
       |    SELECT query_id, qv, qn2, cand_id, cv, cn2
       |    FROM assigned JOIN qp USING (cell)
       |    UNION ALL
       |    SELECT qs.query_id, qs.qv, qs.qn2, l.vec_id, l.v, l.n2
       |    FROM nrm l CROSS JOIN qs
       |    WHERE l.vec_id % $VecIdxLateMod = $VecIdxLateRem),
       |  scored AS (SELECT query_id, cand_id,
       |      CAST(list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2])) AS DOUBLE)
       |        / sqrt(CAST(qn2 AS DOUBLE) * CAST(cn2 AS DOUBLE)) AS cos
       |    FROM cand WHERE cand_id <> query_id),
       |  ranked AS (SELECT *, row_number() OVER
       |      (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rank
       |    FROM scored)
       |SELECT query_id, cand_id, CAST(rank AS INT) AS rank,
       |  round(cos, 6) AS cos_r
       |FROM ranked WHERE rank <= $AnnK""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ANN: product quantization (ADC over per-subspace codebooks). Like
  // IVF, the fit is deterministic, so the oracle SQL is generated
  // post-fit with the codebooks inlined as literals. The same per-row
  // distance lists serve corpus rows (argmin -> code) and query rows
  // (the ADC lookup table) in both engines.
  // ---------------------------------------------------------------------
  val PqM = 8      // subspaces over AnnDim=64 -> subdim 8
  val PqKsub = 16  // sub-centroids per subspace -> 4-bit codes
  val PqIters = 2

  private val pqBooks =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Long]]]]()

  /** Codebooks per sf dir: fit once, shared by both PQ queries (the
    * fit is deterministic, so either query computes the same books). */
  private def pqBooksFor(s: SparkSession, dir: String): Array[Array[Array[Long]]] =
    pqBooks.computeIfAbsent(dir, _ =>
      ProductQuant.fitCodebooks(t(s, dir, "embeddings"), "vec_id",
        "embedding", AnnDim, PqM, PqKsub, PqIters))

  def annPqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    ProductQuant.adcTopK(emb, emb.filter(col("vec_id") < AnnQueryCount),
      "vec_id", "embedding", AnnDim, AnnK, pqBooksFor(s, dir))
  }

  def annPqTopKSql(books: Array[Array[Array[Long]]]): String = {
    val subdim = AnnDim / PqM
    def distExpr(j: Int, c: Array[Long]): String = {
      val idx = (0 until subdim).map(d => j * subdim + d + 1)
      val n2j = idx.map(i => s"v[$i]*v[$i]").mkString(" + ")
      val dot = c.zip(idx).map { case (w, i) => s"($w)*v[$i]" }.mkString(" + ")
      val cn2 = c.map(x => x * x).sum
      s"($n2j) - 2*($dot) + $cn2"
    }
    val dlCols = (0 until PqM).map { j =>
      books(j).map(c => distExpr(j, c))
        .mkString("[", ",\n      ", s"] AS dl_$j")
    }.mkString(",\n    ")
    val codeCols = (0 until PqM).map(j =>
      s"list_position(dl_$j, list_min(dl_$j)) - 1 AS code_$j").mkString(",\n      ")
    val qCols = (0 until PqM).map(j => s"dl_$j").mkString(", ")
    val adist = (0 until PqM).map(j =>
      s"qp.dl_$j[enc.code_$j + 1]").mkString(" + ")
    s"""WITH $fixedPointCte,
       |  dlists AS (SELECT vec_id,
       |    $dlCols
       |    FROM nrm),
       |  enc AS (SELECT vec_id AS cand_id,
       |      $codeCols
       |    FROM dlists),
       |  qp AS (SELECT vec_id AS query_id, $qCols FROM dlists
       |    WHERE vec_id < $AnnQueryCount),
       |  scored AS (SELECT query_id, cand_id, $adist AS adist
       |    FROM enc CROSS JOIN qp
       |    WHERE cand_id <> query_id),
       |  ranked AS (SELECT *, row_number() OVER
       |      (PARTITION BY query_id ORDER BY adist ASC, cand_id ASC) AS rank
       |    FROM scored)
       |SELECT query_id, cand_id, CAST(rank AS INT) AS rank,
       |  CAST(adist AS BIGINT) AS adist
       |FROM ranked WHERE rank <= $AnnK""".stripMargin
  }

  val PqShortlist = 50

  def annPqRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    ProductQuant.adcRerankTopK(emb, emb.filter(col("vec_id") < AnnQueryCount),
      "vec_id", "embedding", AnnDim, AnnK, PqShortlist, pqBooksFor(s, dir))
  }

  /** DuckDB twin of [[ProductQuant.adcRerankTopK]]: the ADC shortlist
    * CTEs from [[annPqTopKSql]] widened to `PqShortlist`, then exact
    * fixed-point L2 on the shortlist only. */
  def annPqRerankSql(books: Array[Array[Array[Long]]]): String = {
    val adc = annPqTopKSql(books)
    // reuse the generated ADC query as a shortlist CTE: swap its final
    // top-k cut for the shortlist width, then re-rank exactly
    val shortlisted = adc.replace(s"FROM ranked WHERE rank <= $AnnK",
      s"FROM ranked WHERE rank <= $PqShortlist")
    s"""WITH short AS ($shortlisted),
       |  $fixedPointCte,
       |  ex AS (SELECT s.query_id, s.cand_id,
       |      q.n2 - 2 * list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) + c.n2 AS dist
       |    FROM short s
       |    JOIN nrm q ON q.vec_id = s.query_id
       |    JOIN nrm c ON c.vec_id = s.cand_id),
       |  rr AS (SELECT *, row_number() OVER
       |      (PARTITION BY query_id ORDER BY dist ASC, cand_id ASC) AS rank
       |    FROM ex)
       |SELECT query_id, cand_id, CAST(rank AS INT) AS rank,
       |  CAST(dist AS BIGINT) AS dist
       |FROM rr WHERE rank <= $AnnK""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Embedding near-dup pairs (exact cosine threshold)
  // ---------------------------------------------------------------------
  val NearDupThreshold = 0.3

  def embedNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
      NearDupThreshold)

  // ---------------------------------------------------------------------
  // Contrastive negative sampling: k other-label rows per anchor via
  // salted-hash slot probing (no anchor x candidate expansion)
  // ---------------------------------------------------------------------
  val NegK = 4
  val NegSlots = 64
  val NegSalt = "ns1"

  def negativeSample(s: SparkSession, dir: String): DataFrame =
    Similarity.negativeSamples(t(s, dir, "embeddings"), "vec_id", "label",
      NegK, NegSlots, NegSalt)

  val negativeSampleSql: String = {
    import graft.functions.StableHash
    def h32(e: String) = StableHash.stable32Sql(e)
    s"""WITH cand AS (SELECT vec_id AS cand_id, label AS cand_label,
       |    ${h32(s"CAST(vec_id AS VARCHAR) || '$NegSalt'")} % $NegSlots AS slot,
       |    ${h32("'c' || CAST(vec_id AS VARCHAR)")} AS h
       |  FROM embeddings),
       |  reps AS (SELECT slot, cand_label, cand_id, h FROM (
       |    SELECT *, row_number() OVER (PARTITION BY slot, cand_label
       |      ORDER BY h, cand_id) AS rn FROM cand) WHERE rn = 1),
       |  anchors AS (SELECT vec_id AS anchor_id, label AS anchor_label,
       |    CAST(g.i AS INT) AS i,
       |    ${h32(s"CAST(vec_id AS VARCHAR) || '#' || CAST(g.i AS VARCHAR) || '$NegSalt'")}
       |      % $NegSlots AS slot
       |  FROM embeddings, unnest(generate_series(0, ${NegK - 1})) AS g(i)),
       |  j AS (SELECT a.anchor_id, a.i, r.cand_id, r.cand_label, r.h
       |    FROM anchors a JOIN reps r USING (slot)
       |    WHERE r.cand_label <> a.anchor_label)
       |SELECT anchor_id, i, cand_id AS neg_id, cand_label AS neg_label
       |FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id, i
       |    ORDER BY h, cand_id) AS rn FROM j) WHERE rn = 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // SemDeDup: k-means partition, then near-dup flags WITHIN cells only
  // (the published semantic-dedup recipe — pair work n^2/k, not n^2).
  // Like IVF/PQ, the deterministic fit's centroid matrix is inlined
  // into oracle SQL generated post-fit.
  // ---------------------------------------------------------------------
  val SemClusters = 16
  val SemIters = 3

  private val semCents =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Long]]]()

  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = KMeans.fitOn(emb, "vec_id", "embedding", SemClusters, SemIters)
    semCents.put(dir, cents)
    Similarity.semDedup(cents, emb, "vec_id", "embedding", NearDupThreshold)
  }

  /** DuckDB twin of [[Similarity.semDedup]]: the IVF oracle's exact
    * integer assignment (argmin of |v|^2-2<v,c>+|c|^2, ties -> lowest
    * cell), a within-cell self-join for duplicate ids, LEFT JOIN back
    * for the per-row flag. */
  def semDedupSql(cents: Array[Array[Long]]): String = {
    val dists = cents.map { c =>
      val dot = c.zipWithIndex.map { case (w, j) => s"($w)*v[${j + 1}]" }
        .mkString(" + ")
      val cNorm2 = c.map(x => x * x).sum
      s"n2 - 2*($dot) + $cNorm2"
    }
    val dlist = dists.mkString("[", ",\n      ", "]")
    s"""WITH $fixedPointCte,
       |  dlists AS (SELECT vec_id, v, n2, $dlist AS dl FROM nrm),
       |  assigned AS (SELECT vec_id, v, n2,
       |      list_position(dl, list_min(dl)) - 1 AS cell FROM dlists),
       |  dup AS (SELECT DISTINCT b.vec_id
       |    FROM assigned a JOIN assigned b
       |      ON a.cell = b.cell AND a.vec_id < b.vec_id
       |    WHERE CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) AS DOUBLE)
       |      / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) >= $NearDupThreshold)
       |SELECT a.vec_id AS id, CAST(a.cell AS INT) AS cell,
       |  (d.vec_id IS NOT NULL) AS is_dup
       |FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id""".stripMargin
  }

  val embedNearDupSql: String =
    s"""WITH $fixedPointCte
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) AS DOUBLE)
       |    / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)), 6) AS cos_r
       |FROM nrm a, nrm b
       |WHERE a.vec_id < b.vec_id
       |  AND CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) AS DOUBLE)
       |    / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) >= $NearDupThreshold""".stripMargin

  // ---------------------------------------------------------------------
  // Embedding near-dup, SRP-blocked (the scale twin: candidates from 4
  // independent SRP tables, exact-cosine verified — output ⊆ the exact
  // all-pairs result; recall measured in SimilaritySpec)
  // ---------------------------------------------------------------------
  val NearDupTables = 4

  def embedNearDupBlocked(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairsBlocked(t(s, dir, "embeddings"), "vec_id",
      "embedding", AnnDim, NearDupThreshold, AnnPlanes, NearDupTables)

  val embedNearDupBlockedSql: String = {
    val tableSelects = (0 until NearDupTables).map { tbl =>
      s"SELECT vec_id, v, n2, $tbl AS tbl, ${srpBucketSqlExpr("v", tbl * AnnPlanes)} AS bucket FROM nrm"
    }.mkString("\n    UNION ALL ")
    s"""WITH $fixedPointCte,
       |  bk AS ($tableSelects)
       |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) AS DOUBLE)
       |    / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)), 6) AS cos_r
       |FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  AND a.vec_id < b.vec_id
       |WHERE CAST(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) AS DOUBLE)
       |    / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) >= $NearDupThreshold""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Grouped vector centroids (class prototypes per label, exact ints)
  // ---------------------------------------------------------------------
  def vectorCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.groupedCentroids(t(s, dir, "embeddings"), "label", "embedding")

  val vectorCentroidsSql: String =
    s"""SELECT label, dim, count(*) AS n_vecs,
       |  CAST(sum(x) AS BIGINT) AS sum_fp,
       |  CAST(CAST(sum(x) AS BIGINT) // count(*) AS BIGINT) AS mean_fp
       |FROM (
       |  SELECT label,
       |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * ${Similarity.Scale}.0) AS BIGINT) AS x
       |  FROM embeddings)
       |GROUP BY label, dim""".stripMargin

  // ---------------------------------------------------------------------
  // Multimodal: binary payload + typed mapPartitions feature extraction
  // ---------------------------------------------------------------------
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.toMediaFrame(t(s, dir, "documents"),
      "doc_id", "text", "text/plain")
    Multimodal.extractFeatures(s, media).toDF()
  }

  val multimodalFeaturesSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
      |  md5(text) AS content_md5,
      |  CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
      |  CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INT) AS height,
      |  CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames,
      |  CAST(0 AS BIGINT) AS pixel_sum,
      |  CAST(0 AS BIGINT) AS sample_sum
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // REAL image decode through the multimodal seam: deterministic
  // grayscale PNGs (pixel(x,y) = (31x + 7y + base) mod 256, dims and
  // base derived from doc_id) are encoded with javax.imageio, shipped
  // as binary media, and decoded back by ImageCodec inside
  // extractFeatures. The oracle recomputes width/height/pixel-sum
  // analytically — a wrong decode (dims, pixel data, band layout)
  // breaks the hash.
  // ---------------------------------------------------------------------
  def imageDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val w = (id % 16 + 8).toInt
        val h = (id % 12 + 8).toInt
        Multimodal.MediaRecord(id,
          Multimodal.ImageCodec.encodePng(w, h, (id % 256).toInt), "image/png")
      }.toDF()
    Multimodal.extractFeatures(s, media)
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("pixel_sum"))
  }

  val imageDecodeSql: String =
    """WITH xs AS (
      |  SELECT doc_id, unnest(generate_series(0, doc_id % 16 + 7)) AS x
      |  FROM documents
      |), xy AS (
      |  SELECT doc_id, x, unnest(generate_series(0, doc_id % 12 + 7)) AS y
      |  FROM xs
      |)
      |SELECT doc_id,
      |  CAST(doc_id % 16 + 8 AS INT) AS width,
      |  CAST(doc_id % 12 + 8 AS INT) AS height,
      |  CAST(1 AS INT) AS n_frames,
      |  CAST(sum((x*31 + y*7 + doc_id % 256) % 256) AS BIGINT) AS pixel_sum
      |FROM xy GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // REAL audio decode through the multimodal seam: deterministic 16-bit
  // mono PCM (sample(i) = (doc_id*31 + i*17) mod 2003 - 1001, length
  // derived from doc_id) is encoded as WAV with javax.sound.sampled,
  // shipped as binary media, and decoded back by AudioCodec inside
  // extractFeatures. The oracle recomputes rate/channels/window-count/
  // sample-sum analytically — a wrong decode (rate, dropped frames,
  // endianness, corrupted samples) breaks the hash.
  // ---------------------------------------------------------------------
  def audioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val n = (id % 3000 + 100).toInt
        val samples = Array.tabulate(n)(i =>
          ((id * 31 + i * 17) % 2003 - 1001).toShort)
        Multimodal.MediaRecord(id,
          Multimodal.AudioCodec.encodeWav(16000, samples), "audio/wav")
      }.toDF()
    Multimodal.extractFeatures(s, media)
      .select(col("doc_id"), col("width").as("sample_rate"),
        col("height").as("channels"), col("n_frames").as("n_windows"),
        col("sample_sum"))
  }

  val audioDecodeSql: String =
    """WITH s AS (
      |  SELECT doc_id, unnest(generate_series(0, doc_id % 3000 + 99)) AS i
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(16000 AS INT) AS sample_rate,
      |  CAST(1 AS INT) AS channels,
      |  CAST((doc_id % 3000 + 100 + 1023) // 1024 AS INT) AS n_windows,
      |  CAST(sum((doc_id * 31 + i * 17) % 2003 - 1001) AS BIGINT)
      |    AS sample_sum
      |FROM s GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // REAL video decode through the multimodal seam: deterministic
  // pattern AVIs (uncompressed 24-bit DIB frames, channel value
  // (31x + 7y + 13f + base) mod 256, dims/frame-count/base derived
  // from doc_id) are container-encoded by VideoCodec, shipped as
  // binary media, and parsed back — RIFF chunk walk, bottom-up row
  // unflip, 4-byte row padding — inside extractFeatures. The feature
  // is a POSITION-weighted sum (weight 1 + (x + 2y + 3f) mod 7), so a
  // parser that scrambles layout (row order, padding, frame order)
  // fails the hash even when a plain sum would survive. The oracle
  // recomputes everything analytically.
  // ---------------------------------------------------------------------
  def videoDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val w = (id % 8 + 6).toInt
        val h = (id % 6 + 5).toInt
        val frames = (id % 5 + 2).toInt
        Multimodal.MediaRecord(id,
          Multimodal.VideoCodec.encodeAvi(w, h, frames, (id % 256).toInt),
          "video/avi")
      }.toDF()
    Multimodal.extractFeatures(s, media)
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("pixel_sum"))
  }

  val videoDecodeSql: String =
    """WITH xs AS (
      |  SELECT doc_id, unnest(generate_series(0, doc_id % 8 + 5)) AS x
      |  FROM documents
      |), xy AS (
      |  SELECT doc_id, x, unnest(generate_series(0, doc_id % 6 + 4)) AS y
      |  FROM xs
      |), xyf AS (
      |  SELECT doc_id, x, y, unnest(generate_series(0, doc_id % 5 + 1)) AS f
      |  FROM xy
      |)
      |SELECT doc_id,
      |  CAST(doc_id % 8 + 6 AS INT) AS width,
      |  CAST(doc_id % 6 + 5 AS INT) AS height,
      |  CAST(doc_id % 5 + 2 AS INT) AS n_frames,
      |  CAST(sum(3 * ((x*31 + y*7 + f*13 + doc_id % 256) % 256)
      |    * (1 + (x + 2*y + 3*f) % 7)) AS BIGINT) AS pixel_sum
      |FROM xyf GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Multimodal frame-sampling fan-out (video -> frames shape)
  // ---------------------------------------------------------------------
  def multimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.toMediaFrame(t(s, dir, "documents"),
      "doc_id", "text", "video/fake")
    Multimodal.sampleFrames(s, media).toDF()
  }

  val multimodalFramesSql: String =
    """SELECT doc_id, CAST(fi AS INT) AS frame_idx,
      |  md5(text || '_' || CAST(fi AS VARCHAR)) AS frame_md5
      |FROM (SELECT doc_id, text,
      |    unnest(generate_series(0, octet_length(encode(text)) % 30)) AS fi
      |  FROM documents)""".stripMargin

  // ---------------------------------------------------------------------
  // As-of lookup: each purchase joined to the user's most recent prior
  // signup — one window pass, no range join (operators.AsOf)
  // ---------------------------------------------------------------------
  def asofPriorSignup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("ts_us", expr("ts_ns DIV 1000"))
    AsOf.priorMarker(e, "user_id", "ts_us",
        when(col("event_type") === "signup", col("ts_us")), "prior_signup_us",
        tieBreakCols = Seq("event_id"))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("prior_signup_us"))
  }

  val asofPriorSignupSql: String =
    """SELECT event_id, user_id, ts_us, prior_signup_us FROM (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
      |    last_value(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END
      |        IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_signup_us
      |  FROM events)
      |WHERE event_type = 'purchase'""".stripMargin

  // ---------------------------------------------------------------------
  // Two-table as-of join (backward, inclusive): purchases x signups —
  // checked against DuckDB's native ASOF LEFT JOIN
  // ---------------------------------------------------------------------
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("ts_us", expr("ts_ns DIV 1000"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts_us"), col("ts_us").as("signup_us"))
    AsOf.asofJoin(purchases, signups, "user_id", "ts_us", Seq("signup_us"))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("signup_us"))
  }

  val asofJoinSql: String =
    """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
      |  epoch_us(r.ts) AS signup_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
      |  ON l.user_id = r.user_id AND epoch_us(l.ts) >= epoch_us(r.ts)""".stripMargin

  /** Same semantics through the custom whole-operator path
    * (plans.AsofJoinPlan/AsofJoinExec) — one streaming merge with O(1)
    * task state instead of union + window. Shares the DuckDB native
    * ASOF JOIN oracle with q_asof_join. */
  def asofNative(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("ts_us", expr("ts_ns DIV 1000"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts_us"), col("ts_us").as("signup_us"))
    AsOf.asofJoinNative(purchases, signups, "user_id", "ts_us",
      Seq("signup_us"))
  }

  // ---------------------------------------------------------------------
  // Structured Streaming: hourly rollup via Trigger.AvailableNow
  // ---------------------------------------------------------------------
  private val streamRun = new AtomicInteger(0)

  def streamingHourly(s: SparkSession, dir: String): DataFrame =
    EventStream.hourlyRollup(s, dir,
      queryName = s"events_hourly_${streamRun.incrementAndGet()}")

  val SessionGapUs: Long = 1800L * 1000000 // 30 minutes

  def streamingSessions(s: SparkSession, dir: String): DataFrame =
    EventStream.sessionWindowRollup(s, dir, SessionGapUs,
      queryName = s"events_sessions_${streamRun.incrementAndGet()}")

  /** Batch islands twin of the native session_window: break when the
    * gap to the previous event is >= gapUs (session_window merges an
    * event iff it lands strictly inside prev_end = prev_ts + gap);
    * session end = last event + gap, matching window.end. */
  val streamingSessionsSql: String =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us,
       |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
       |  o AS (SELECT *, lag(ts_us) OVER
       |      (PARTITION BY user_id ORDER BY ts_us) AS prev FROM e),
       |  m AS (SELECT *, CASE WHEN prev IS NULL
       |      OR ts_us - prev >= $SessionGapUs THEN 1 ELSE 0 END AS brk FROM o),
       |  sid AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
       |      ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS s FROM m)
       |SELECT user_id, min(ts_us) AS start_us,
       |  max(ts_us) + $SessionGapUs AS end_us,
       |  count(*) AS n_events, CAST(sum(vc) AS BIGINT) AS value_cents
       |FROM sid GROUP BY user_id, s""".stripMargin

  val streamingHourlySql: String =
    """SELECT epoch_ns(ts) // 3600000000000 AS epoch_h, event_type,
      |  count(*) AS cnt,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Stream-static enrichment: NO join state (per-micro-batch
    * broadcast against the batch dim) — see
    * [[EventStream.staticEnrichedRollup]]. */
  def streamStaticJoin(s: SparkSession, dir: String): DataFrame =
    EventStream.staticEnrichedRollup(s, dir,
      queryName = s"events_enriched_${streamRun.incrementAndGet()}")

  val streamStaticJoinSql: String =
    """SELECT epoch_ns(ts) // 3600000000000 AS epoch_h, c_mktsegment,
      |  count(*) AS cnt,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2""".stripMargin

  def streamingSliding(s: SparkSession, dir: String): DataFrame =
    EventStream.slidingRollup(s, dir,
      queryName = s"events_sliding_${streamRun.incrementAndGet()}")

  /** Oracle: a size/slide = 2h/1h sliding window assigns each event to
    * exactly the two windows starting at its hour and the hour before. */
  val streamingSlidingSql: String =
    """WITH ev AS (SELECT epoch_ns(ts) // 3600000000000 AS h, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
      |  x AS (SELECT h AS ws, event_type, c FROM ev
      |    UNION ALL SELECT h - 1 AS ws, event_type, c FROM ev)
      |SELECT ws AS win_start_h, event_type, count(*) AS cnt,
      |  CAST(sum(c) AS BIGINT) AS value_cents
      |FROM x GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // registry
  // ---------------------------------------------------------------------
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> (dedupExact _),
    "q_text_stats" -> (textStats _),
    "q_lang_id" -> (langId _),
    "q_fingerprint" -> (fingerprint _),
    "q_minhash_signatures" -> (minhashSignatures _),
    "q_minhash_lsh_pairs" -> (minhashLshPairs _),
    "q_ngram_jaccard" -> (ngramJaccard _),
    "q_fuzzy_join" -> (fuzzyJoin _),
    "q_simhash" -> (simhash _),
    "q_simhash_pairs" -> (simhashPairs _),
    "q_ann_brute_topk" -> (annBruteTopK _),
    "q_ann_lsh_topk" -> (annLshTopK _),
    "q_ann_ivf_topk" -> (annIvfTopK _),
    "q_ann_index" -> (annIndex _),
    "q_ann_pq_topk" -> (annPqTopK _),
    "q_ann_pq_rerank" -> (annPqRerank _),
    "q_embed_neardup" -> (embedNearDup _),
    "q_embed_neardup_blocked" -> (embedNearDupBlocked _),
    "q_semdedup" -> (semDedup _),
    "q_negative_sample" -> (negativeSample _),
    "q_multimodal_features" -> (multimodalFeatures _),
    "q_image_decode" -> (imageDecode _),
    "q_audio_decode" -> (audioDecode _),
    "q_video_decode" -> (videoDecode _),
    "q_bpe_apply" -> (bpeApply _),
    "q_connected_components" -> (connectedComponents _),
    "q_streaming_hourly" -> (streamingHourly _),
    "q_stream_static_join" -> (streamStaticJoin _),
    "q_streaming_sliding" -> (streamingSliding _),
    "q_streaming_sessions" -> (streamingSessions _),
    "q_asof_prior_signup" -> (asofPriorSignup _),
    "q_asof_join" -> (asofJoin _),
    "q_asof_native" -> (asofNative _),
    "q_multimodal_frames" -> (multimodalFrames _),
    "q_tfidf_top_terms" -> (tfidfTopTerms _),
    "q_vocabulary" -> (vocabulary _),
    "q_oov_rate" -> (oovRate _),
    "q_collocations" -> (collocations _),
    "q_bm25_rank" -> (bm25Rank _),
    "q_lm_counts" -> (lmCounts _),
    "q_lm_score" -> (lmScore _),
    "q_normalize_text" -> (normalizeText _),
    "q_jaccard_prefix_join" -> (jaccardPrefixJoin _),
    "q_wordpiece" -> (wordpieceTokens _),
    "q_vector_centroids" -> (vectorCentroids _),
    "q_dedup_clusters" -> (dedupClusters _),
    "q_cluster_keeper" -> (clusterKeeper _),
    "q_sample_split" -> (sampleSplit _),
    "q_epoch_shards" -> (epochShards _),
    "q_curated_table" -> (curatedTable _),
    "q_stratified_sample" -> (stratifiedSample _),
    "q_curation_pipeline" -> (curationPipeline _),
  )

  /** Reset the per-sf-dir fitted-model caches that [[oracles]] inlines
    * (IVF/PQ/SemDeDup centroid literals). Harness hook for oracle-pair
    * fuzzing (`OracleFuzzSpec`), which runs the same queries over
    * several scratch dirs in one JVM, so the single-dir invariant the
    * dynamic oracles rely on must be re-established per dir. */
  private[graft] def resetFittedOracleState(): Unit = {
    ivfCents.clear(); vecIdxCents.clear(); pqBooks.clear()
    semCents.clear(); bpeMerges.clear()
  }

  /** Oracle map is a def: the IVF entry exists only after its query has
    * run in this JVM (Verify dumps oracle SQL after the query loop),
    * and only when a single sf dir was exercised — the centroid
    * literals must match the dir the driver compares against. */
  def oracles: Map[String, String] = {
    val ivf: Map[String, String] =
      if (ivfCents.size == 1)
        Map("q_ann_ivf_topk" ->
          annIvfTopKSql(ivfCents.values.iterator.next()))
      else Map.empty
    val vecIdx: Map[String, String] =
      if (vecIdxCents.size == 1)
        Map("q_ann_index" ->
          annIndexSql(vecIdxCents.values.iterator.next()))
      else Map.empty
    val pq: Map[String, String] =
      if (pqBooks.size == 1)
        Map("q_ann_pq_topk" ->
          annPqTopKSql(pqBooks.values.iterator.next()),
          "q_ann_pq_rerank" ->
          annPqRerankSql(pqBooks.values.iterator.next()))
      else Map.empty
    val sem: Map[String, String] =
      if (semCents.size == 1)
        Map("q_semdedup" -> semDedupSql(semCents.values.iterator.next()))
      else Map.empty
    val bpe: Map[String, String] =
      if (bpeMerges.size == 1)
        Map("q_bpe_apply" -> bpeApplySql(bpeMerges.values.iterator.next()))
      else Map.empty
    staticOracles ++ ivf ++ vecIdx ++ pq ++ sem ++ bpe
  }

  private val staticOracles: Map[String, String] = Map(
    "q_dedup_exact" -> dedupExactSql,
    "q_text_stats" -> textStatsSql,
    "q_lang_id" -> langIdSql,
    "q_fingerprint" -> fingerprintSql,
    "q_minhash_signatures" -> minhashSignaturesSql,
    "q_minhash_lsh_pairs" -> minhashLshPairsSql,
    "q_ngram_jaccard" -> ngramJaccardSql,
    "q_fuzzy_join" -> fuzzyJoinSql,
    "q_simhash" -> simhashSql,
    "q_simhash_pairs" -> simhashPairsSql,
    "q_ann_brute_topk" -> annBruteTopKSql,
    "q_ann_lsh_topk" -> annLshTopKSql,
    "q_embed_neardup" -> embedNearDupSql,
    "q_embed_neardup_blocked" -> embedNearDupBlockedSql,
    "q_multimodal_features" -> multimodalFeaturesSql,
    "q_image_decode" -> imageDecodeSql,
    "q_audio_decode" -> audioDecodeSql,
    "q_video_decode" -> videoDecodeSql,
    "q_connected_components" -> connectedComponentsSql,
    "q_streaming_hourly" -> streamingHourlySql,
    "q_stream_static_join" -> streamStaticJoinSql,
    "q_streaming_sessions" -> streamingSessionsSql,
    "q_streaming_sliding" -> streamingSlidingSql,
    "q_asof_prior_signup" -> asofPriorSignupSql,
    "q_asof_join" -> asofJoinSql,
    "q_asof_native" -> asofJoinSql,
    "q_multimodal_frames" -> multimodalFramesSql,
    "q_tfidf_top_terms" -> tfidfTopTermsSql,
    "q_vocabulary" -> vocabularySql,
    "q_oov_rate" -> oovRateSql,
    "q_collocations" -> collocationsSql,
    "q_bm25_rank" -> bm25RankSql,
    "q_lm_counts" -> lmCountsSql,
    "q_lm_score" -> lmScoreSql,
    "q_normalize_text" -> normalizeTextSql,
    "q_jaccard_prefix_join" -> jaccardPrefixJoinSql,
    "q_wordpiece" -> wordpieceTokensSql,
    "q_negative_sample" -> negativeSampleSql,
    "q_vector_centroids" -> vectorCentroidsSql,
    "q_dedup_clusters" -> dedupClustersSql,
    "q_cluster_keeper" -> clusterKeeperSql,
    "q_sample_split" -> sampleSplitSql,
    "q_epoch_shards" -> epochShardsSql,
    "q_curated_table" -> curatedTableSql,
    "q_stratified_sample" -> stratifiedSampleSql,
    "q_curation_pipeline" -> curationPipelineSql,
  )
}
