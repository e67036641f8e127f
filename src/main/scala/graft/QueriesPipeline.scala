package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{ChangeCapture, Curation, Dedup}
import graft.sources.FormatSink

/** Round-4 pipeline tier: rule-based quality filtering, repetition,
  * decontamination, PII redaction, edit-distance near-dup verification,
  * CDC merge / SCD2 history, extended window functions, bucketed
  * co-located joins, and non-parquet sink round-trips — each with a
  * DuckDB oracle twin.
  */
object QueriesPipeline {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def cents(c: org.apache.spark.sql.Column) =
    graft.functions.Exact.cents(c)

  // ---------------------------------------------------------------------
  // Rule-based quality filtering (Gopher-style rule audit columns)
  // ---------------------------------------------------------------------
  def qualityRules(s: SparkSession, dir: String): DataFrame =
    Curation.qualityRules(t(s, dir, "documents"), "text")
      .select(col("doc_id"), col("n_words"), col("mean_wl_e2"),
        col("symbol_e6"), col("stop_hits"), col("r_words"), col("r_mean_wl"),
        col("r_symbol"), col("r_stop"), col("keep"))

  val qualityRulesSql: String =
    s"""SELECT doc_id, n_words, mean_wl_e2, symbol_e6, stop_hits,
       |  n_words BETWEEN ${Curation.MinWords} AND ${Curation.MaxWords} AS r_words,
       |  mean_wl_e2 BETWEEN ${Curation.MinMeanWlE2} AND ${Curation.MaxMeanWlE2} AS r_mean_wl,
       |  symbol_e6 <= ${Curation.MaxSymbolE6} AS r_symbol,
       |  stop_hits >= 1 AS r_stop,
       |  (n_words BETWEEN ${Curation.MinWords} AND ${Curation.MaxWords})
       |    AND (mean_wl_e2 BETWEEN ${Curation.MinMeanWlE2} AND ${Curation.MaxMeanWlE2})
       |    AND symbol_e6 <= ${Curation.MaxSymbolE6} AND stop_hits >= 1 AS keep
       |FROM (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_words,
       |    CAST((length(replace(text, ' ', '')) * 100)
       |      // len(string_split(text, ' ')) AS BIGINT) AS mean_wl_e2,
       |    CAST((length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) * 1000000)
       |      // greatest(length(text), 1) AS BIGINT) AS symbol_e6,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a'))) AS INT) AS stop_hits
       |  FROM documents)""".stripMargin

  // ---------------------------------------------------------------------
  // Intra-document repetition signals
  // ---------------------------------------------------------------------
  def repetition(s: SparkSession, dir: String): DataFrame =
    Curation.repetitionSignals(t(s, dir, "documents"), "text")
      .select(col("doc_id"), col("dup_tok_e6"), col("dup_2gram_e6"),
        col("repetitive"))

  val repetitionSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |  gm AS (SELECT doc_id, t,
       |      CASE WHEN len(t) < 2 THEN []::VARCHAR[]
       |           ELSE list_transform(generate_series(1, len(t) - 1),
       |             i -> t[i] || ' ' || t[i + 1]) END AS g
       |    FROM tk)
       |SELECT doc_id,
       |  CAST(((len(t) - len(list_distinct(t))) * 1000000) // len(t) AS BIGINT) AS dup_tok_e6,
       |  CAST(CASE WHEN len(g) = 0 THEN 0
       |    ELSE ((len(g) - len(list_distinct(g))) * 1000000) // len(g) END AS BIGINT) AS dup_2gram_e6,
       |  CASE WHEN len(g) = 0 THEN 0
       |    ELSE ((len(g) - len(list_distinct(g))) * 1000000) // len(g) END
       |    > ${Curation.RepetitionMaxDup2gramE6} AS repetitive
       |FROM gm""".stripMargin

  // ---------------------------------------------------------------------
  // Benchmark decontamination: word 4-gram collision vs the eval subset
  // (doc_id % 41 = 0), eval side broadcast
  // ---------------------------------------------------------------------
  val DecontamW = 4
  val EvalMod = 41

  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Curation.decontaminate(
      docs.filter(col("doc_id") % EvalMod =!= 0),
      docs.filter(col("doc_id") % EvalMod === 0),
      "doc_id", "text", DecontamW)
  }

  val decontaminateSql: String =
    s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, greatest(len(string_split(text, ' ')) - ${DecontamW - 1}, 1)),
       |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + ${DecontamW - 1}), ' '))) AS shingle
       |    FROM documents)),
       |  ev AS (SELECT DISTINCT shingle, doc_id AS eval_id FROM sh
       |    WHERE doc_id % $EvalMod = 0),
       |  tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % $EvalMod <> 0)
       |SELECT doc_id,
       |  CAST(count(DISTINCT shingle) AS BIGINT) AS n_shared_shingles,
       |  CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
       |FROM tr JOIN ev USING (shingle)
       |GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // EXACT-SUBSTRING decontamination: the benchmark set is derived
  // deterministically from the corpus itself (an 80-char snippet of
  // every doc_id % 7 = 0 document long enough to carry one, plus one
  // literal that appears nowhere), so both engines construct the SAME
  // eval suite and the verbatim-inclusion answer is fully checkable.
  // Spark runs the two-stage screen (plan-carried Bloom of anchor
  // rolling hashes -> exact contains on survivors); the oracle is the
  // brute-force position() join — row-identical by the zero-false-
  // negative contract.
  // ---------------------------------------------------------------------
  val ExactBenchMod = 7
  val ExactSnipLen = 80

  def decontaminateExact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val noise = {
      val s2 = s
      import s2.implicits._
      Seq((-1L,
        "this exact sentence appears in no corpus document at all"))
        .toDF("bench_id", "snippet")
    }
    val bench = docs
      .filter(col("doc_id") % ExactBenchMod === 0 &&
        length(col("text")) >= ExactSnipLen + 20)
      .select(col("doc_id").as("bench_id"),
        substring(col("text"), 10, ExactSnipLen).as("snippet"))
      .union(noise)
    Curation.decontaminateExact(docs, bench,
      "doc_id", "text", "bench_id", "snippet")
  }

  val decontaminateExactSql: String =
    s"""WITH bench AS (
       |    SELECT doc_id AS bench_id, substr(text, 10, $ExactSnipLen) AS snippet
       |    FROM documents
       |    WHERE doc_id % $ExactBenchMod = 0
       |      AND length(text) >= ${ExactSnipLen + 20}
       |    UNION ALL
       |    SELECT -1, 'this exact sentence appears in no corpus document at all')
       |SELECT d.doc_id,
       |  CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_hits
       |FROM documents d JOIN bench b ON position(b.snippet IN d.text) > 0
       |GROUP BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // EXACT-SUBSTRING decontamination over LONG documents: groups of
  // `LongGroup` docs concatenate (doc_id order) into multi-KB
  // documents and the benchmark snippets are cut from MID-document —
  // the corpus shape where an undersized screen would pass everything
  // (a 3,000-char doc probes ~3,000 windows) and a nested-loop
  // re-check would scan survivors × benchmark. The two-stage screen
  // (per-document-FP-sized Bloom → anchor-hash equi-join → exact
  // contains) must stay row-identical to the brute-force oracle.
  // ---------------------------------------------------------------------
  val LongGroup = 10
  val LongBenchMod = 4
  val LongSnipFrom = 500
  val LongSnipLen = 90

  def decontaminateLong(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val longDocs = docs
      .groupBy(floor(col("doc_id") / LongGroup).as("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("doc_id"), col("text")))),
        x => x.getField("text")), " ").as("text"))
    val noise = {
      val s2 = s
      import s2.implicits._
      Seq((-1L, "this exact sentence appears in no corpus document at all"))
        .toDF("bench_id", "snippet")
    }
    val bench = longDocs
      .filter(col("doc_id") % LongBenchMod === 0 &&
        length(col("text")) >= LongSnipFrom + LongSnipLen + 20)
      .select(col("doc_id").as("bench_id"),
        substring(col("text"), LongSnipFrom, LongSnipLen).as("snippet"))
      .union(noise)
    Curation.decontaminateExact(longDocs, bench,
      "doc_id", "text", "bench_id", "snippet")
  }

  val decontaminateLongSql: String =
    s"""WITH ld AS (
       |    SELECT CAST(floor(doc_id / $LongGroup.0) AS BIGINT) AS doc_id,
       |      string_agg(text, ' ' ORDER BY doc_id) AS text
       |    FROM documents GROUP BY 1),
       |  bench AS (
       |    SELECT doc_id AS bench_id,
       |      substr(text, $LongSnipFrom, $LongSnipLen) AS snippet
       |    FROM ld
       |    WHERE doc_id % $LongBenchMod = 0
       |      AND length(text) >= ${LongSnipFrom + LongSnipLen + 20}
       |    UNION ALL
       |    SELECT -1, 'this exact sentence appears in no corpus document at all')
       |SELECT d.doc_id,
       |  CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_hits
       |FROM ld d JOIN bench b ON position(b.snippet IN d.text) > 0
       |GROUP BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // TEXT-ANCHOR FILE SKIPPING ([[graft.sources.VersionedTable
  // .textIndexBuild]]): documents land in a versioned table as 8
  // range-partitioned files, a persisted per-file Bloom over window
  // rolling hashes is built, and the benchmark snippets are cut from
  // the LOW doc_id band only — so the indexed decontamination must
  // prune the scan to the contaminated file(s) (the in-query require
  // pins it via the notifier) while staying row-identical to the
  // oracle's brute-force position() join over the whole corpus.
  // ---------------------------------------------------------------------
  val IdxBenchMod = 7
  val IdxSnipFrom = 15
  val IdxSnipLen = 80
  val IdxNoise = "this exact sentence appears in no corpus document " +
    "anywhere at all, however hard anyone looks for it"

  def decontaminateIndex(s: SparkSession, dir: String): DataFrame = {
    val VT = graft.sources.VersionedTable
    val docs = t(s, dir, "documents")
    val table = java.nio.file.Files
      .createTempDirectory("graft_textidx").toString + "/docs"
    VT.commit(s, table, docs.repartitionByRange(8, col("doc_id")),
      append = false, statCols = Seq("doc_id"))
    // SIZE THE INDEX FROM THE DATA (the q_bloom_skipping rule): a
    // Bloom saturates once keys exceed ~bits/8, and keys-per-file
    // here is ~chars-per-file — a fixed size would prune at one SF
    // and saturate at 10x
    val agg = docs.agg(sum(length(col("text"))), max(col("doc_id")))
      .collect()(0)
    val windowsPerFile = math.max(agg.getLong(0) / 8, 1L)
    val bitsLog2 = math.min(26, math.max(14,
      64 - java.lang.Long.numberOfLeadingZeros(8 * windowsPerFile - 1)))
    VT.textIndexBuild(s, table, "text", bitsLog2 = bitsLog2.toInt)
    val cut = agg.getLong(1) / 8
    val noise = {
      val s2 = s
      import s2.implicits._
      Seq((-1L, IdxNoise)).toDF("bench_id", "snippet")
    }
    val bench = docs
      .filter(col("doc_id") % IdxBenchMod === 0 &&
        col("doc_id") <= cut &&
        length(col("text")) >= IdxSnipFrom + IdxSnipLen + 15)
      .select(col("doc_id").as("bench_id"),
        substring(col("text"), IdxSnipFrom, IdxSnipLen).as("snippet"))
      .union(noise)
    var pruned = (-1, -1)
    VT.textIndexPruneNotifier = (c, n) => pruned = (c, n)
    try {
      // the scale-invariant pruning pin: a snippet that appears in NO
      // document must probe to (almost) no candidate files at ANY SF
      // — the real-bench candidate count legitimately grows with the
      // corpus (the 10x replica corpus duplicates snippets into every
      // file), so only the nowhere-probe is an invariant
      val noiseCand = VT.textIndexCandidates(s, table, "text",
        Seq(IdxNoise)).getOrElse(sys.error("index must be usable"))
      require(pruned._2 == 8 && noiseCand.size <= 2,
        s"the text-anchor index must prune a nowhere-snippet probe " +
          s"to ~zero of the 8 files, kept ${noiseCand.size}")
      VT.decontaminateExactTable(s, table,
        "doc_id", "text", bench, "bench_id", "snippet")
    } finally VT.textIndexPruneNotifier = (_, _) => ()
  }

  val decontaminateIndexSql: String =
    s"""WITH mx AS (
       |    SELECT CAST(floor(max(doc_id) / 8.0) AS BIGINT) AS cut
       |    FROM documents),
       |  bench AS (
       |    SELECT doc_id AS bench_id,
       |      substr(text, $IdxSnipFrom, $IdxSnipLen) AS snippet
       |    FROM documents, mx
       |    WHERE doc_id % $IdxBenchMod = 0 AND doc_id <= cut
       |      AND length(text) >= ${IdxSnipFrom + IdxSnipLen + 15}
       |    UNION ALL
       |    SELECT -1, '$IdxNoise')
       |SELECT d.doc_id,
       |  CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_hits
       |FROM documents d JOIN bench b ON position(b.snippet IN d.text) > 0
       |GROUP BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // PII redaction: deterministic synthetic PII injected on both engines
  // (the corpus has none), then the same RE2-safe patterns redact it
  // ---------------------------------------------------------------------
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("pii_text", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call +1-555-"), lpad(col("doc_id").cast("string"), 4, "0"),
            lit(" ssn 123-45-6789"))).otherwise(lit(""))))
    Curation.redactPii(d, "pii_text")
      .select(col("doc_id"), col("n_pii"), col("redacted"))
  }

  val piiRedactSql: String = {
    val Seq(em, ssn, ph) = Curation.PiiPatterns.map(_._2)
    s"""WITH p AS (SELECT doc_id, text ||
       |    CASE WHEN doc_id % 3 = 0
       |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0
       |      THEN ' call +1-555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' ssn 123-45-6789'
       |      ELSE '' END AS pii_text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(pii_text, '$em'))
       |    + len(regexp_extract_all(pii_text, '$ssn'))
       |    + len(regexp_extract_all(pii_text, '$ph')) AS INT) AS n_pii,
       |  regexp_replace(regexp_replace(regexp_replace(pii_text,
       |    '$em', '<EMAIL>', 'g'), '$ssn', '<SSN>', 'g'), '$ph', '<PHONE>', 'g') AS redacted
       |FROM p""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Edit-distance near-dup: LSH candidates -> exact Levenshtein verify
  // (same LSH→verify composition as q_ngram_jaccard)
  // ---------------------------------------------------------------------
  /** 10% of the longer text: the observed true near-dups sit at ≤6.3%
    * relative distance while random same-lang pairs sit at 63–78%, and
    * a tight radius is what makes the banded DP (levenshtein threshold
    * + early exit) pay — at 50% the band was as wide as the matrix. */
  val EditMaxRelE2 = 10

  def editdistNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text",
      QueriesML.ShingleN, QueriesML.MinhashK, QueriesML.MinhashBands)
    Curation.editDistancePairs(cands, docs, "doc_id", "text", EditMaxRelE2)
  }

  val editdistNearDupSql: String =
    s"""WITH cand AS (SELECT * FROM (${QueriesML.minhashLshPairsSql}))
       |SELECT c.id_a, c.id_b, CAST(levenshtein(a.text, b.text) AS INT) AS lev
       |FROM cand c
       |JOIN documents a ON a.doc_id = c.id_a
       |JOIN documents b ON b.doc_id = c.id_b
       |WHERE levenshtein(a.text, b.text) * 100
       |  <= greatest(length(a.text), length(b.text)) * $EditMaxRelE2""".stripMargin

  // ---------------------------------------------------------------------
  // CDC apply: latest state per user from the event stream; 'error' is
  // the delete marker
  // ---------------------------------------------------------------------
  def cdcMerge(s: SparkSession, dir: String): DataFrame = {
    // ordering happens in the MICROSECOND domain: DuckDB truncates
    // TIMESTAMP_NS to micros on read, so ordering on raw nanos here
    // would tie-break differently for same-microsecond events
    val changes = t(s, dir, "events").select(col("user_id"),
      expr("ts_ns DIV 1000").as("ts_us"),
      col("event_id"), col("event_type"), cents(col("value")).as("value_cents"))
    ChangeCapture.applyLatest(changes, Seq("user_id"),
        Seq("ts_us", "event_id"), col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value_cents"), col("ts_us"))
  }

  val cdcMergeSql: String =
    """SELECT user_id, event_id, event_type, value_cents, ts_us FROM (
      |  SELECT user_id, event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS value_cents,
      |    epoch_ns(ts) // 1000 AS ts_us,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  // ---------------------------------------------------------------------
  // SCD Type-2 history of each user's event_type state
  // ---------------------------------------------------------------------
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val changes = t(s, dir, "events").select(col("user_id"), col("event_type"),
      expr("ts_ns DIV 1000").as("ts_us"), col("event_id"))
    ChangeCapture.scd2(changes, "user_id", "event_type", "ts_us", "event_id")
  }

  val scd2Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us,
      |    event_id FROM events),
      |  ch AS (SELECT *, lag(event_type) OVER
      |      (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e),
      |  f AS (SELECT user_id, event_type, ts_us, event_id FROM ch
      |    WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_type, ts_us AS valid_from,
      |  lead(ts_us) OVER w AS valid_to,
      |  CAST(row_number() OVER w AS INT) AS version,
      |  lead(ts_us) OVER w IS NULL AS is_current
      |FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin

  // ---------------------------------------------------------------------
  // Point-in-time (temporal) join: each probe row looks up the SCD2
  // version valid AT its timestamp — the time-travel join every
  // versioned warehouse needs, composed from two gated operators:
  // ChangeCapture.scd2 builds the versioned dim, AsOf.asofJoinNative
  // (backward-inclusive on valid_from) finds the containing interval —
  // intervals tile each key's timeline, so "latest valid_from <= ts"
  // IS containment, with no range join and O(1) state per merge task.
  // Same-instant version collisions resolve to the latest version
  // (row_number DESC on version) in both engines.
  // ---------------------------------------------------------------------
  def temporalJoin(s: SparkSession, dir: String): DataFrame = {
    val changes = t(s, dir, "events").select(col("user_id"),
      col("event_type"), expr("ts_ns DIV 1000").as("ts_us"), col("event_id"))
    val hist = ChangeCapture.scd2(changes, "user_id", "event_type",
      "ts_us", "event_id")
    val wTie = Window.partitionBy(col("user_id"), col("valid_from"))
      .orderBy(col("version").desc)
    val dim = hist.withColumn("__rn", row_number().over(wTie))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("event_type").as("state"),
        col("valid_from"), col("version"),
        col("valid_from").as("ts_us"))
    val probes = t(s, dir, "events").filter(col("event_id") % 5 === 0)
      .select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"),
        col("event_id"))
    operators.AsOf.asofJoinNative(probes, dim, "user_id", "ts_us",
        Seq("state", "valid_from", "version"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("state"), col("valid_from"), col("version"))
  }

  val temporalJoinSql: String =
    s"""WITH hist AS ($scd2Sql),
       |  dim AS (SELECT * FROM (SELECT *, row_number() OVER (
       |      PARTITION BY user_id, valid_from ORDER BY version DESC) AS rn
       |    FROM hist) WHERE rn = 1),
       |  probes AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us,
       |    event_id FROM events WHERE event_id % 5 = 0)
       |SELECT p.user_id, p.event_id, p.ts_us, h.event_type AS state,
       |  h.valid_from, h.version
       |FROM probes p JOIN dim h ON h.user_id = p.user_id
       |  AND h.valid_from <= p.ts_us
       |QUALIFY row_number() OVER (PARTITION BY p.user_id, p.event_id
       |  ORDER BY h.valid_from DESC) = 1""".stripMargin

  // ---------------------------------------------------------------------
  // Extended window-function battery: lag/lead/ntile/percent_rank/
  // cume_dist in one pass (one shuffle on the partition key)
  // ---------------------------------------------------------------------
  def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("price_cents", cents(col("o_totalprice")))
      .select(col("o_orderkey"), col("o_custkey"), col("price_cents"),
        lag("price_cents", 1).over(w).as("prev_cents"),
        lead("price_cents", 1).over(w).as("next_cents"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
  }

  val windowFuncsSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |  lag(CAST(round(o_totalprice * 100) AS BIGINT), 1) OVER w AS prev_cents,
      |  lead(CAST(round(o_totalprice * 100) AS BIGINT), 1) OVER w AS next_cents,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  // ---------------------------------------------------------------------
  // Bucketed co-located join: both sides written bucketed on the join
  // key -> SortMergeJoin with ZERO exchanges (asserted in BucketedSpec).
  // At 100 TB this is the "pay the shuffle once at write time" pattern
  // for a fact table joined repeatedly on the same key.
  // ---------------------------------------------------------------------
  private lazy val warehouseRoot: String =
    java.nio.file.Files.createTempDirectory("graft_bucket_gate")
      .toAbsolutePath.toString

  val BucketCount = 8

  /** Bucketed external tables (unique per sf dir), re-read via the
    * catalog so bucket metadata applies. Written ONCE per JVM per dir
    * (memoized like QueriesML's ivfCents): "pay the shuffle once at
    * write time" is the pattern — re-writing on every invocation would
    * make the bench measure the write, not the zero-exchange join. */
  private val bucketedDone =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def bucketedTables(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val sfx = math.abs(dir.hashCode).toString
    val (to, tc) = (s"graft_bkt_orders_$sfx", s"graft_bkt_customer_$sfx")
    if (bucketedDone.add(dir)) {
      t(s, dir, "orders").write.mode("overwrite").format("parquet")
        .bucketBy(BucketCount, "o_custkey").sortBy("o_custkey")
        .option("path", s"$warehouseRoot/$to").saveAsTable(to)
      t(s, dir, "customer").write.mode("overwrite").format("parquet")
        .bucketBy(BucketCount, "c_custkey").sortBy("c_custkey")
        .option("path", s"$warehouseRoot/$tc").saveAsTable(tc)
    }
    (s.table(to), s.table(tc))
  }

  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (o, c) = bucketedTables(s, dir)
    o.hint("merge")
      .join(c.hint("merge"), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("revenue_cents"))
  }

  val bucketedJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // Non-parquet sink round-trips: write through FormatSink, read back,
  // return the re-read rows — any fidelity loss breaks the hash match
  // against the oracle computed from the ORIGINAL table
  // ---------------------------------------------------------------------
  private lazy val sinkRoot: String =
    java.nio.file.Files.createTempDirectory("graft_sink_gate")
      .toAbsolutePath.toString

  def sinkJson(s: SparkSession, dir: String): DataFrame = {
    val sfx = math.abs(dir.hashCode).toString
    val df = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    FormatSink(sinkRoot, s"json_$sfx", "json").write(df)
    s.read.schema("o_orderkey LONG, o_orderstatus STRING, price_cents LONG")
      .json(s"$sinkRoot/json_$sfx")
  }

  def sinkOrc(s: SparkSession, dir: String): DataFrame = {
    val sfx = math.abs(dir.hashCode).toString
    val df = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderpriority"), cents(col("o_totalprice")).as("price_cents"))
    FormatSink(sinkRoot, s"orc_$sfx", "orc").write(df)
    s.read.orc(s"$sinkRoot/orc_$sfx")
  }

  /** S9 realized: write an aggregate through JdbcSink into embedded
    * Derby, read it back over JDBC, gate the round-tripped rows vs the
    * oracle computed from the original table. Any write-path defect
    * (type mapping, batching, overwrite DDL) breaks the hash. */
  def sinkJdbc(s: SparkSession, dir: String): DataFrame = {
    val sfx = math.abs(dir.hashCode).toString
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val url = "jdbc:derby:memory:graftsink;create=true"
    val tbl = s"orders_agg_$sfx"
    val df = t(s, dir, "orders").groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("revenue_cents"))
      .coalesce(1) // warehouse ingest parallelism, not shuffle width
    graft.sources.JdbcSink(url, tbl, driver,
      createTableColumnTypes = Some("o_orderstatus VARCHAR(10)")).write(df)
    s.read.format("jdbc").option("url", url).option("dbtable", tbl)
      .option("driver", driver).load()
      // Derby folds unquoted identifiers to upper case; restore the
      // oracle's lower-case contract positionally (JDBC preserves
      // column order = creation order = df order)
      .toDF("o_orderstatus", "n_orders", "revenue_cents")
  }

  val sinkJdbcSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  val sinkJsonSql: String =
    """SELECT o_orderkey, o_orderstatus,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |FROM orders""".stripMargin

  val sinkOrcSql: String =
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------------
  // Full-outer join: customers x per-customer order rollup, preserving
  // both unmatched sides with null indicators (the reconciliation-report
  // shape). One shuffle per side on the join key.
  // ---------------------------------------------------------------------
  def outerJoin(s: SparkSession, dir: String): DataFrame = {
    val agg = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("revenue_cents"))
    t(s, dir, "customer")
      .join(agg, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_mktsegment"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue_cents"), lit(0L)).as("revenue_cents"),
        col("c_custkey").isNotNull.as("has_customer"),
        col("o_custkey").isNotNull.as("has_orders"))
  }

  val outerJoinSql: String =
    """SELECT coalesce(c_custkey, o_custkey) AS custkey, c_mktsegment,
      |  coalesce(n_orders, 0) AS n_orders,
      |  coalesce(revenue_cents, 0) AS revenue_cents,
      |  c_custkey IS NOT NULL AS has_customer,
      |  o_custkey IS NOT NULL AS has_orders
      |FROM customer
      |FULL OUTER JOIN (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS revenue_cents
      |  FROM orders GROUP BY o_custkey) o
      |ON c_custkey = o_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // Stream-stream interval self-join (attribution shape): purchases x
  // same-user clicks in the trailing hour, watermark-bounded state
  // ---------------------------------------------------------------------
  private val streamRun = new java.util.concurrent.atomic.AtomicInteger(0)

  def streamJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.purchaseClickJoin(s, dir,
      queryName = s"pc_join_${streamRun.incrementAndGet()}")

  /** Streaming LSH near-dup: same pair set as q_minhash_lsh_pairs
    * (shared oracle), but discovered incrementally with bucket state. */
  def streamNeardup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.NearDupStream.candidatePairs(s, dir,
      queryName = s"nd_stream_${streamRun.incrementAndGet()}",
      shingleN = QueriesML.ShingleN, k = QueriesML.MinhashK,
      bands = QueriesML.MinhashBands)

  /** Streaming CDC apply: latest row per key via mapGroupsWithState —
    * shares q_cdc_merge's oracle (identical semantics to the batch
    * ChangeCapture.applyLatest, discovered incrementally). */
  def streamCdc(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.latestPerUserStream(s, dir,
      queryName = s"cdc_stream_${streamRun.incrementAndGet()}")

  /** Checkpointed exactly-once incremental ingest, exercised END TO
    * END inside the gate: half the corpus arrives, a drain runs; the
    * other half arrives, a SECOND drain resumes from the same
    * checkpoint. The final parquet table must equal the plain batch
    * transform of the whole corpus — any re-processing (duplicates) or
    * missed files (gaps) breaks the hash. */
  def incrementalIngest(s: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft_incr").toAbsolutePath.toString
    val docs = t(s, dir, "documents")
    def transform(df: DataFrame): DataFrame =
      df.filter(col("n_chars") >= 100)
        .select(col("doc_id"), col("source"), col("n_chars"))
    def drain(): Unit =
      graft.streaming.IncrementalIngest.drainToParquet(s, s"$work/src",
        docs.schema, s"$work/out", s"$work/ckpt")(transform)
    docs.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(s"$work/src")
    drain()
    docs.filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$work/src")
    drain()
    s.read.parquet(s"$work/out")
  }

  /** Streaming ingest INTO the versioned table layer, end to end
    * inside the gate: two drains land documents halves as append
    * commits (one commit per micro-batch, batch-marker idempotent),
    * then the final SNAPSHOT read must hold exactly the filtered
    * corpus — and the replayed-checkpoint re-drain between the two
    * arrivals must commit nothing (the marker path), or the doubled
    * rows fail the hash. */
  def streamTableIngest(s: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft_vt_ingest").toAbsolutePath.toString
    val docs = t(s, dir, "documents")
    val table = s"$work/table"
    def transform(df: DataFrame): DataFrame =
      df.filter(col("n_chars") >= 100)
        .select(col("doc_id"), col("source"), col("n_chars"))
    def drain(): Unit =
      graft.streaming.IncrementalIngest.drainToVersionedTable(s,
        s"$work/src", docs.schema, table, s"$work/ckpt")(transform)
    docs.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(s"$work/src")
    drain()
    drain() // no new files: must be a no-op (idempotence half)
    docs.filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$work/src")
    drain()
    graft.sources.VersionedTable.read(s, table)
  }

  val streamTableIngestSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE n_chars >= 100""".stripMargin

  // ---------------------------------------------------------------------
  // Streaming ingest into a PARTITIONED versioned table: each
  // exactly-once micro-batch commit is partition-tagged (one file per
  // source per batch), so the table serves manifest-pruned partition
  // reads from the first commit on — the ingest-by-event-date /
  // read-one-day 100 TB shape. In-query requires pin that every
  // streamed file carries a tag and that a one-source read opens
  // exactly that source's files; the oracle aggregates the filtered
  // documents table restricted to the read partitions.
  // ---------------------------------------------------------------------
  def streamPartitioned(s: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft_vt_part").toAbsolutePath.toString
    val docs = t(s, dir, "documents")
    val table = s"$work/table"
    def transform(df: DataFrame): DataFrame =
      df.filter(col("n_chars") >= 100)
        .select(col("doc_id"), col("source"), col("n_chars"))
    def drain(): Unit =
      graft.streaming.IncrementalIngest.drainToVersionedTablePartitioned(
        s, s"$work/src", docs.schema, table, s"$work/ckpt",
        partitionBy = Some("source"))(transform)
    docs.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(s"$work/src")
    drain()
    docs.filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$work/src")
    drain()
    val VT = graft.sources.VersionedTable
    val m = VT.manifest(s, table, VT.versions(s, table).last)
    require(VT.partitionsOf(m).size == VT.dataFilesOf(m).size,
      "every streamed data file must be partition-tagged")
    val cand = VT.partitionCandidates(m, "source", Seq("src3"))
    require(cand.size == VT.partitionsOf(m).count(_._2 == "src3") &&
      cand.size < VT.dataFilesOf(m).size,
      s"a one-source read must open only that source's files, " +
        s"kept ${cand.size} of ${VT.dataFilesOf(m).size}")
    VT.readPartitions(s, table, "source", Seq("src3", "src7"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_n_chars"))
  }

  val streamPartitionedSql: String =
    """SELECT source, count(*) AS cnt,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
      |FROM documents
      |WHERE n_chars >= 100 AND source IN ('src3', 'src7')
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Streaming ingest -> versioned table -> INCREMENTAL MV, end to end:
  // the rollup a 100 TB ingest pipeline actually serves. Arrival 1 is
  // drained (exactly-once commits), the view is built; arrival 2 is
  // drained and the view REFRESHES off the change feed — O(new files),
  // never a source rescan. The in-query require pins that the refresh
  // really advanced the view to the source head; the oracle aggregates
  // the full filtered table from scratch.
  // ---------------------------------------------------------------------
  def streamMv(s: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft_vt_mv").toAbsolutePath.toString
    val docs = t(s, dir, "documents")
    val table = s"$work/table"; val mv = s"$work/mv"
    def transform(df: DataFrame): DataFrame =
      df.filter(col("n_chars") >= 100)
        .select(col("doc_id"), col("source"), col("n_chars"))
    def drain(): Unit =
      graft.streaming.IncrementalIngest.drainToVersionedTable(s,
        s"$work/src", docs.schema, table, s"$work/ckpt")(transform)
    docs.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(s"$work/src")
    drain()
    graft.sources.MaterializedView.build(s, table, mv,
      Seq("source"), Seq("n_chars"))
    docs.filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$work/src")
    drain()
    graft.sources.MaterializedView.refresh(s, table, mv)
    val head = graft.sources.VersionedTable.versions(s, table).last
    require(graft.sources.MaterializedView.sourceVersion(s, mv) == head,
      "refresh must advance the view to the source head")
    graft.sources.MaterializedView.read(s, mv)
      .select(col("source"), col("cnt"), col("sum_n_chars"))
  }

  val streamMvSql: String =
    """SELECT source, count(*) AS cnt,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
      |FROM documents WHERE n_chars >= 100
      |GROUP BY 1""".stripMargin

  /** Streaming CDC → warehouse MERGE, end to end INSIDE the gate: the
    * change feed arrives in two drains split by event-id parity — so
    * the second drain carries rows both OLDER and NEWER than the
    * first's per user — and the Derby target must still converge to
    * the global latest row per user. A blind (unguarded) MERGE would
    * let an older odd-id row clobber a newer even-id row and fail the
    * hash; the newer-than guard is what the gate is proving. */
  def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft_upsert").toAbsolutePath.toString
    val sfx = math.abs(dir.hashCode).toString
    val url = s"jdbc:derby:memory:graftupsert$sfx;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val flat = t(s, dir, "events").select(col("user_id"),
      col("event_id"), col("event_type"),
      cents(col("value")).as("value_cents"),
      expr("ts_ns DIV 1000").as("ts_us"))
    val sink = graft.sources.JdbcUpsertSink(url, s"user_latest_$sfx", driver,
      keyCols = Seq("user_id"), orderCols = Seq("ts_us", "event_id"),
      createTableColumnTypes = Some("event_type VARCHAR(32)"))
    def drain(): Unit = graft.streaming.IncrementalIngest.drainToJdbcUpsert(
      s, s"$work/src", flat.schema, sink, s"$work/ckpt")
    flat.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(s"$work/src")
    drain()
    flat.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$work/src")
    drain()
    s.read.format("jdbc").option("url", url)
      .option("dbtable", s"user_latest_$sfx").option("driver", driver).load()
      // Derby folds unquoted identifiers upper; restore positionally
      .toDF("user_id", "event_id", "event_type", "value_cents", "ts_us")
  }

  val streamUpsertSql: String =
    """SELECT user_id, event_id, event_type, value_cents, ts_us FROM (
      |  SELECT user_id, event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS value_cents,
      |    epoch_ns(ts) // 1000 AS ts_us,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // Lakehouse -> WAREHOUSE SYNC (TableChangeStream.drainToJdbc): a
  // versioned orders table mutates (commit, COW merge with updates +
  // deletes, DV delete) while two checkpointed drains keep a live
  // Derby table following it — each sync ships O(changed rows):
  // inserts MERGE with the src_version newer-guard, pure deletes
  // apply as one version-guarded DELETE WHERE EXISTS. The zero-egress
  // realization of the reference's warehouse slot
  // (ApplaudoETL.scala:278-281): swap url/driver for the cloud
  // endpoint. The gated output is the warehouse table, which must
  // hash-equal the lakehouse snapshot's algebra.
  // ---------------------------------------------------------------------
  def warehouseSync(s: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft_whsync").toAbsolutePath.toString
    val table = s"$work/orders"
    val sfx = math.abs(dir.hashCode).toString
    val url = s"jdbc:derby:memory:graftwhsync$sfx;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val base = t(s, dir, "orders")
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_cents"))
    val sink = graft.sources.JdbcUpsertSink(url, s"orders_sync_$sfx",
      driver, keyCols = Seq("o_orderkey"),
      orderCols = Seq("src_version"),
      createTableColumnTypes = Some("o_orderstatus VARCHAR(8)"))
    graft.sources.VersionedTable.commit(s, table,
      base.repartitionByRange(4, col("o_orderkey")), append = false)
    graft.streaming.TableChangeStream.drainToJdbc(s, table,
      s"$work/ckpt", sink)
    val updates = base
      .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 17 =!= 0)
      .withColumn("price_cents", col("price_cents") * 2)
      .withColumn("__del", lit(false))
    val deletes = base.filter(col("o_orderkey") % 17 === 0)
      .withColumn("__del", lit(true))
    graft.sources.VersionedTable.mergeCommit(s, table,
      updates.unionByName(deletes), "o_orderkey", deleteCol = Some("__del"))
    graft.sources.VersionedTable.deleteCommit(s, table,
      col("o_orderkey") % 23 === 0, Seq("o_orderkey"))
    val drained = graft.streaming.TableChangeStream.drainToJdbc(s, table,
      s"$work/ckpt", sink)
    require(drained == 2, s"second sync must ship exactly the 2 commits")
    s.read.format("jdbc").option("url", url)
      .option("dbtable", s"orders_sync_$sfx").option("driver", driver)
      .load()
      .toDF("o_orderkey", "o_orderstatus", "price_cents", "src_version")
      .select(col("o_orderkey"), col("o_orderstatus"), col("price_cents"))
  }

  val warehouseSyncSql: String =
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |    FROM orders WHERE o_orderkey % 7 = 0)
      |SELECT k AS o_orderkey, o_orderstatus,
      |  CASE WHEN k % 13 = 0 THEN price_cents * 2
      |    ELSE price_cents END AS price_cents
      |FROM base WHERE k % 17 <> 0 AND k % 23 <> 0""".stripMargin

  // ---------------------------------------------------------------------
  // Streaming CDC -> VERSIONED TABLE (the foreachBatch-MERGE lakehouse
  // recipe, IncrementalIngest.drainCdcToVersionedTable): events arrive
  // split by parity — so the second drain carries keys BOTH newer and
  // older than the first's — and each micro-batch lands as one
  // marker-guarded mergeCommit after the strictly-newer guard drops
  // superseded rows ('error' is the delete marker, as in q_cdc_merge,
  // whose latest-live-row-per-user oracle this shares). The final
  // table must converge to the same state regardless of the split:
  // an unguarded merge fails the hash.
  // ---------------------------------------------------------------------
  def streamTableCdc(s: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files
      .createTempDirectory("graft_vcdc").toAbsolutePath.toString
    val table = s"$work/latest"
    val flat = t(s, dir, "events").select(col("user_id"),
      expr("ts_ns DIV 1000").as("ts_us"),
      col("event_id"), col("event_type"),
      cents(col("value")).as("value_cents"))
    def drain(): Unit = graft.streaming.IncrementalIngest
      .drainCdcToVersionedTable(s, s"$work/src", flat.schema, table,
        s"$work/ckpt", keyCol = "user_id",
        orderCols = Seq("ts_us", "event_id"),
        deleteExpr = Some(col("event_type") === "error"))
    flat.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(s"$work/src")
    drain()
    flat.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$work/src")
    drain()
    // live view: drop the soft-delete tombstones (order memory the
    // out-of-order guard needed; see drainCdcToVersionedTable scaladoc)
    graft.sources.VersionedTable.read(s, table)
      .filter(!col("__deleted"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value_cents"), col("ts_us"))
  }

  val incrementalIngestSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE n_chars >= 100""".stripMargin

  // ---------------------------------------------------------------------
  // Time-series gap fill: sparse hourly purchase sums -> dense per-user
  // series with forward-filled values
  // ---------------------------------------------------------------------
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("ts_ns DIV 1000 DIV 3600000000").as("h"),
        cents(col("value")).as("v"))
      .groupBy(col("user_id"), col("h")).agg(sum(col("v")).as("v_cents"))
    operators.TimeSeries.gapFillForward(hourly, "user_id", "h", "v_cents")
  }

  val gapFillSql: String =
    """WITH hourly AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 // 3600000000 AS h,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |b AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM hourly
      |  GROUP BY user_id),
      |dense AS (SELECT user_id, CAST(u.h AS BIGINT) AS h
      |  FROM b, UNNEST(range(lo, hi + 1)) AS u(h)),
      |j AS (SELECT d.user_id, d.h, hourly.v_cents FROM dense d
      |  LEFT JOIN hourly ON hourly.user_id = d.user_id AND hourly.h = d.h)
      |SELECT user_id, h,
      |  last_value(v_cents IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS v_cents_filled,
      |  v_cents IS NULL AS is_gap
      |FROM j""".stripMargin

  val streamJoinSql: String =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
      |  epoch_ns(p.ts) // 1000 AS p_ts_us, epoch_ns(c.ts) // 1000 AS c_ts_us
      |FROM events p JOIN events c ON p.user_id = c.user_id
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND epoch_ns(c.ts) // 1000
      |    BETWEEN epoch_ns(p.ts) // 1000 - 3600000000 AND epoch_ns(p.ts) // 1000""".stripMargin

  // ---------------------------------------------------------------------
  // Context-window chunking: 32-word chunks, stride 24 (overlap 8)
  // ---------------------------------------------------------------------
  val ChunkWindow = 32
  val ChunkStride = 24

  def chunkDocs(s: SparkSession, dir: String): DataFrame =
    operators.Chunking.chunk(t(s, dir, "documents"), "doc_id", "text",
      ChunkWindow, ChunkStride)

  val chunkDocsSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |  kk AS (SELECT doc_id, t, len(t) AS n,
       |    CASE WHEN len(t) <= $ChunkWindow THEN 0
       |         ELSE (len(t) - $ChunkWindow + ${ChunkStride - 1}) // $ChunkStride END AS k
       |  FROM tk)
       |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       |  array_to_string(t[i * $ChunkStride + 1 : i * $ChunkStride + $ChunkWindow], ' ') AS chunk_text,
       |  CAST(least($ChunkWindow, n - i * $ChunkStride) AS INT) AS n_chunk_words
       |FROM kk, unnest(generate_series(0, k)) AS u(i)""".stripMargin

  // ---------------------------------------------------------------------
  // Sequential token-budget packing into training-sequence bins
  // ---------------------------------------------------------------------
  val PackBudget = 512

  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    operators.Chunking.packSequences(df, "doc_id", "n_tokens", "lang",
      PackBudget)
  }

  val packSequencesSql: String =
    s"""SELECT doc_id, lang, n_tokens, start_offset // $PackBudget AS bin,
       |  start_offset
       |FROM (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(coalesce(sum(len(string_split(text, ' '))) OVER (
       |      PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_offset
       |  FROM documents)""".stripMargin

  // ---------------------------------------------------------------------
  // Single-pass numeric profiling of lineitem (ANALYZE shape)
  // ---------------------------------------------------------------------
  def profileLineitem(s: SparkSession, dir: String): DataFrame =
    // the 4-way distinct expands rows 5x BEFORE the first exchange; a
    // single-row-group input file would push the whole expand through
    // one task without the parallelism guard
    operators.Profile.numeric(
      operators.ScaleOps.ensureParallelism(t(s, dir, "lineitem"),
        s.sparkContext.defaultParallelism), Seq(
      "l_quantity" -> round(col("l_quantity")).cast("long"),
      "l_extendedprice" -> cents(col("l_extendedprice")),
      "l_discount" -> cents(col("l_discount")),
      "l_tax" -> cents(col("l_tax"))))

  val profileLineitemSql: String = {
    val cols = Seq(
      "l_quantity" -> "CAST(round(l_quantity) AS BIGINT)",
      "l_extendedprice" -> "CAST(round(l_extendedprice * 100) AS BIGINT)",
      "l_discount" -> "CAST(round(l_discount * 100) AS BIGINT)",
      "l_tax" -> "CAST(round(l_tax * 100) AS BIGINT)")
    cols.map { case (name, e) =>
      s"""SELECT '$name' AS col_name,
         |  CAST(sum(CASE WHEN $name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $e) AS BIGINT) AS n_distinct,
         |  CAST(min($e) AS BIGINT) AS min_i,
         |  CAST(max($e) AS BIGINT) AS max_i
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------------
  // Sketch-tier gate: deterministic INVARIANT queries. A cross-engine
  // sketch-layout hash match is impossible (Spark HLL++/DataSketches vs
  // DuckDB's own sketches), but the invariants that make sketches usable
  // at 100 TB — estimate within the configured error bound of the exact
  // answer, and merge-of-partials == one-shot — are deterministic
  // booleans computed Spark-side: sketch register updates are max/set
  // operations, so estimates are independent of row and partition order.
  // The oracle recomputes the exact side and asserts TRUE for each
  // invariant, so the hash compare fails iff an invariant breaks.
  // ---------------------------------------------------------------------
  val SketchRsd = 0.05
  /** 3x the configured rsd as the relative bound, +5 absolute floor for
    * small groups. NOTE: the bound gate hard-asserts a probabilistic
    * property of Spark's HLL++ — deterministic for a FIXED dataset
    * (green at the driver's sf0.01 and at sf0.1), but a ~3-sigma bound
    * per group, so a different data seed could fail it spuriously even
    * with a correct implementation; widen the bound before running the
    * gate at other scale factors or seeds. */
  private def withinBound(est: org.apache.spark.sql.Column,
                          exact: org.apache.spark.sql.Column, relBound: Double) =
    abs(est.cast("double") - exact.cast("double")) <= exact * relBound + lit(5)

  // ---------------------------------------------------------------------
  // Count-Min frequency sketch gate. Unlike the HLL/GK tiers (invariant
  // gates only — library sketch layouts differ per engine), the CMS is
  // built RELATIONALLY from md5 universal hashes, so the ESTIMATES
  // themselves hash-match the oracle exactly, plus the two classic CMS
  // guarantees as boolean columns.
  // ---------------------------------------------------------------------
  val CmsDepth = 3
  val CmsWidth = 256
  val CmsTopK = 20

  def cmsFreq(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val cells = operators.Sketches.countMinCells(toks, "w", CmsDepth, CmsWidth)
    val top = toks.groupBy("w").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("w").asc).limit(CmsTopK)
    val total = toks.agg(count(lit(1)).as("n_total"))
    operators.Sketches.countMinEstimate(cells, top, "w", CmsDepth, CmsWidth)
      .join(top, Seq("w"))
      .crossJoin(total)
      .select(col("w"), col("exact_n"), col("cms_est"),
        (col("cms_est") >= col("exact_n")).as("never_under"),
        (col("cms_est") <= col("exact_n") +
          expr(s"(2 * n_total) DIV $CmsWidth")).as("within_bound"))
  }

  val cmsFreqSql: String = {
    import graft.functions.StableHash
    def h(r: Int) =
      s"(${StableHash.universalSql(StableHash.stable32Sql("w"), r)}) % $CmsWidth"
    val cellSelects = (0 until CmsDepth).map(r =>
      s"SELECT $r AS r, ${h(r)} AS cell, count(*) AS n FROM toks GROUP BY 2")
      .mkString("\n    UNION ALL ")
    val probeSelects = (0 until CmsDepth).map(r =>
      s"SELECT w, $r AS r, ${h(r)} AS cell FROM top")
      .mkString("\n    UNION ALL ")
    s"""WITH toks AS (SELECT w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |    WHERE length(w) > 0),
       |  cells AS ($cellSelects),
       |  top AS (SELECT w, count(*) AS exact_n FROM toks GROUP BY w
       |    ORDER BY exact_n DESC, w LIMIT $CmsTopK),
       |  probes AS ($probeSelects),
       |  est AS (SELECT w, min(n) AS cms_est
       |    FROM probes JOIN cells USING (r, cell) GROUP BY w),
       |  tot AS (SELECT count(*) AS n_total FROM toks)
       |SELECT t.w, CAST(t.exact_n AS BIGINT) AS exact_n,
       |  CAST(e.cms_est AS BIGINT) AS cms_est,
       |  e.cms_est >= t.exact_n AS never_under,
       |  e.cms_est <= t.exact_n + (2 * tot.n_total) // $CmsWidth
       |    AS within_bound
       |FROM top t JOIN est e USING (w), tot""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Bloom filter through the gate: build over the even-doc_id batch,
  // probe EVERY doc. Like the CMS, the filter is relational (md5
  // universal hashes, 32-bit word packing), so the probe results are
  // engine-exact: every built key must probe true (no false negatives
  // — the gate breaks if one ever goes missing) and the odd keys'
  // false positives are the same deterministic set in both engines.
  // The cross-batch ingest-dedup primitive: yesterday's filter rows
  // union with today's by bit_or, no history rescan.
  // ---------------------------------------------------------------------
  val BloomBitsLog2 = 16
  val BloomK = 4

  def bloomProbeDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val built = operators.Sketches.bloomBuild(
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").cast("string").as("doc_key")),
      col("doc_key"), BloomBitsLog2, BloomK)
    operators.Sketches.bloomProbe(built,
      docs.select(col("doc_id").cast("string").as("doc_key")),
      "doc_key", BloomBitsLog2, BloomK)
  }

  val bloomProbeDocsSql: String = {
    import graft.functions.StableHash
    val m = 1L << BloomBitsLog2
    def pos(i: Int) =
      s"(${StableHash.universalSql(StableHash.stable32Sql("doc_key"), i)}) % $m"
    def cells(src: String, keep: String) = (0 until BloomK).map(i =>
      s"SELECT $keep ${pos(i)} // 32 AS word_idx," +
        s" CAST(1 AS BIGINT) << CAST(${pos(i)} % 32 AS INT) AS bit FROM $src")
      .mkString("\n    UNION ALL ")
    s"""WITH built AS (SELECT CAST(doc_id AS VARCHAR) AS doc_key
       |    FROM documents WHERE doc_id % 2 = 0),
       |  probes AS (SELECT CAST(doc_id AS VARCHAR) AS doc_key FROM documents),
       |  words AS (SELECT word_idx, bit_or(bit) AS bits FROM (
       |    ${cells("built", "")}) GROUP BY 1),
       |  pc AS (${cells("probes", "doc_key,")})
       |SELECT doc_key,
       |  bool_and((coalesce(bits, CAST(0 AS BIGINT)) & bit) != 0) AS member
       |FROM pc LEFT JOIN words USING (word_idx) GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // TWAP: duration-weighted mean of each user's event values over the
  // irregular event stream — exact integers (cents x micros), ties
  // broken by event_id so "which sample is last" is deterministic.
  // ---------------------------------------------------------------------
  def twapUsers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"),
      expr("ts_ns DIV 1000").as("ts_us"), col("event_id"),
      cents(col("value")).as("value_cents"))
    operators.TimeSeries.twap(e, "user_id", "ts_us", "value_cents",
      tieCols = Seq("event_id"))
  }

  val twapUsersSql: String =
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS value_cents FROM events),
      |  d AS (SELECT user_id, value_cents,
      |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |      - ts_us AS dur
      |  FROM e)
      |SELECT user_id,
      |  CAST(CAST(sum(value_cents * dur) AS BIGINT)
      |    // CAST(sum(dur) AS BIGINT) AS BIGINT) AS twap,
      |  CAST(sum(dur) AS BIGINT) AS span
      |FROM d WHERE dur IS NOT NULL GROUP BY 1""".stripMargin

  // CAVEAT (per-dataset gate): within_bound hard-asserts a ~3-sigma
  // probabilistic HLL++ property — deterministic for THIS dataset/SF
  // (green at sf0.01 and sf0.1) but a different seed or scale factor
  // could fail it spuriously; widen withinBound before regating there.
  def sketchDistinctBound(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val est = operators.Sketches.approxDistinct(e, Seq("event_type"),
      "user_id", SketchRsd)
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"),
        withinBound(col("approx_distinct"), col("n_exact"), 3 * SketchRsd)
          .as("within_bound"))
  }

  val sketchDistinctBoundSql: String =
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      |  TRUE AS within_bound
      |FROM events GROUP BY event_type""".stripMargin

  /** GK-quantile invariant gate: percentile_approx at accuracy A has a
    * DETERMINISTIC worst-case rank-error guarantee of n/A (not a
    * probabilistic bound like HLL), so the approx p-quantile element
    * must lie between the exact (p-1%) and (p+1%) quantile elements
    * whenever A > 100 — a boolean that holds for ANY dataset or seed,
    * making it a clean oracle-gate row for the quantile sketch tier. */
  // CAVEAT (per-dataset gate): unlike the HLL twin this bound is a
  // worst-case GK guarantee, not probabilistic — but the +/-1%-rank
  // sandwich is still asserted against THIS dataset's group sizes; a
  // future accuracy/SF change needs the n/A <= 1%-rank check redone.
  def sketchQuantileBound(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), cents(col("value")).as("value_cents"))
    val approx = operators.Quantiles.perGroupElement(e, "event_type",
        "value_cents", Seq(0.5, 0.9), accuracy = 1000)
      .select(col("event_type"), col("q50").as("a50"), col("q90").as("a90"))
    // exact element quantiles: accuracy >> group size => zero rank error
    val exact = operators.Quantiles.perGroupElement(e, "event_type",
      "value_cents", Seq(0.49, 0.51, 0.89, 0.91))
    approx.join(exact, "event_type")
      .select(col("event_type"),
        (col("a50") >= col("q49") && col("a50") <= col("q51"))
          .as("p50_in_bound"),
        (col("a90") >= col("q89") && col("a90") <= col("q91"))
          .as("p90_in_bound"))
  }

  val sketchQuantileBoundSql: String =
    """SELECT event_type, TRUE AS p50_in_bound, TRUE AS p90_in_bound
      |FROM events GROUP BY event_type""".stripMargin

  /** Mergeable-rollup invariant on the graft-native deterministic HLL
    * (plans.HllDet, lgK=12, ~1.6% rel std error): per-day partial
    * sketches merged up to event_type estimate EXACTLY what a one-shot
    * sketch over the whole group estimates — max-register merge is
    * associative/commutative, so this holds for any split at any
    * scale, which is what makes it a gateable boolean. (The
    * DataSketches twins in operators.Sketches stay spec-checked:
    * their estimate depends on the production path — HIP vs composite
    * estimator — so an equality invariant on them is flaky by design;
    * measured.) */
  def sketchMergeConsistent(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .withColumn("day", expr("ts_ns DIV 86400000000000"))
    val partials = operators.Sketches.detPartial(e,
      Seq("event_type", "day"), "user_id")
    val merged = operators.Sketches.detMerge(partials, Seq("event_type"))
    val oneshot = operators.Sketches.detDistinct(e, Seq("event_type"), "user_id")
      .withColumnRenamed("approx_distinct", "est_oneshot")
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    merged.join(oneshot, "event_type").join(exact, "event_type")
      .select(col("event_type"), col("n_exact"),
        (col("approx_distinct") === col("est_oneshot")).as("merge_consistent"),
        withinBound(col("approx_distinct"), col("n_exact"), 0.05)
          .as("within_bound"))
  }

  val sketchMergeConsistentSql: String =
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      |  TRUE AS merge_consistent, TRUE AS within_bound
      |FROM events GROUP BY event_type""".stripMargin

  /** Sliding distinct-users rollup — the incremental READ path at
    * scale: one deterministic-HLL partial per hour (built once, the
    * write-time cost), then each trailing 3-hour window's estimate is
    * a MERGE of 3 tiny sketches, never a rescan of events. Gated on
    * the two invariants that make the pattern trustworthy: the rolled
    * estimate equals the one-shot sketch over the same window's raw
    * rows (detHLL merge==one-shot is exact for ANY input split — here
    * the split is by hour), and it lands within the error bound of the
    * exact windowed distinct. */
  def slidingDistinct(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .withColumn("epoch_h", expr("ts_ns DIV 3600000000000"))
    val partials = operators.Sketches.detPartial(e, Seq("epoch_h"), "user_id")
    val spine = partials.select(col("epoch_h").as("win_h")).distinct()
    val rolled = operators.Sketches.detMerge(
      spine.join(partials,
        col("epoch_h").between(col("win_h") - 2, col("win_h"))),
      Seq("win_h"))
    // one-shot twin over the same window's RAW rows: replicate each
    // event into the <=3 windows it belongs to (bounded explode)
    val windowedRows = e.withColumn("win_h", explode(array(
        col("epoch_h"), col("epoch_h") + 1, col("epoch_h") + 2)))
      .join(spine, Seq("win_h"), "left_semi")
    val oneshot = operators.Sketches.detDistinct(
        windowedRows, Seq("win_h"), "user_id")
      .withColumnRenamed("approx_distinct", "est_oneshot")
    val exact = windowedRows.groupBy(col("win_h"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    rolled.join(oneshot, "win_h").join(exact, "win_h")
      .select(col("win_h"), col("n_exact"),
        (col("approx_distinct") === col("est_oneshot")).as("merge_consistent"),
        withinBound(col("approx_distinct"), col("n_exact"), 0.05)
          .as("within_bound"))
  }

  val slidingDistinctSql: String =
    """WITH e AS (SELECT epoch_ns(ts) // 3600000000000 AS epoch_h, user_id
      |    FROM events),
      |  spine AS (SELECT DISTINCT epoch_h AS win_h FROM e)
      |SELECT s.win_h,
      |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_exact,
      |  TRUE AS merge_consistent, TRUE AS within_bound
      |FROM spine s JOIN e ON e.epoch_h BETWEEN s.win_h - 2 AND s.win_h
      |GROUP BY s.win_h""".stripMargin

  // ---------------------------------------------------------------------
  // registry
  // ---------------------------------------------------------------------
  // Source-mixture sampling weights: the domain-mixing knob — per-source
  // token counts and the e6 fixed-point resampling weight toward a
  // uniform token share (operators.Curation.mixtureWeights)
  // ---------------------------------------------------------------------
  def mixtureWeights(s: SparkSession, dir: String): DataFrame =
    Curation.mixtureWeights(t(s, dir, "documents"), "source", "text")

  val mixtureWeightsSql: String =
    """SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
      |  CAST((total_tokens * 1000000) // (n_groups * n_tokens) AS BIGINT)
      |    AS weight_e6
      |FROM (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |    sum(CAST(sum(len(string_split(text, ' '))) AS BIGINT)) OVER ()
      |      AS total_tokens,
      |    count(*) OVER () AS n_groups
      |  FROM documents GROUP BY source)""".stripMargin

  def mixtureTemperature(s: SparkSession, dir: String): DataFrame =
    Curation.mixtureTemperature(t(s, dir, "documents"), "source", "text")

  val mixtureTemperatureSql: String =
    """SELECT source, n_tokens,
      |  CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w_sqrt,
      |  CAST((CAST(floor(sqrt(n_tokens)) AS BIGINT) * 1000000) //
      |    sum(CAST(floor(sqrt(n_tokens)) AS BIGINT)) OVER () AS BIGINT)
      |    AS share_ppm
      |FROM (SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source)""".stripMargin

  // ---------------------------------------------------------------------
  // Snapshot diff: reconcile two table versions into added / removed /
  // changed rows (ChangeCapture.snapshotDiff). Fixture: both snapshots
  // derived deterministically from orders — %97 keys absent from the
  // old snapshot (-> added), %89 keys absent from the new (-> removed),
  // %13 keys get a doubled price in the new (-> changed).
  // ---------------------------------------------------------------------
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      cents(col("o_totalprice")).as("price_cents"), col("o_orderstatus"))
    val oldSnap = base.filter(col("o_orderkey") % 97 =!= 0)
    val newSnap = base.filter(col("o_orderkey") % 89 =!= 0)
      .withColumn("price_cents",
        when(col("o_orderkey") % 13 === 0, col("price_cents") * 2)
          .otherwise(col("price_cents")))
    ChangeCapture.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
      Seq("price_cents", "o_orderstatus"))
  }

  val snapshotDiffSql: String =
    """WITH base AS (SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |    o_orderstatus FROM orders),
      |  os AS (SELECT * FROM base WHERE o_orderkey % 97 <> 0),
      |  ns AS (SELECT o_orderkey,
      |      CASE WHEN o_orderkey % 13 = 0 THEN price_cents * 2
      |           ELSE price_cents END AS price_cents,
      |      o_orderstatus FROM base WHERE o_orderkey % 89 <> 0)
      |SELECT coalesce(os.o_orderkey, ns.o_orderkey) AS o_orderkey,
      |  os.price_cents AS old_price_cents,
      |  os.o_orderstatus AS old_o_orderstatus,
      |  ns.price_cents AS new_price_cents,
      |  ns.o_orderstatus AS new_o_orderstatus,
      |  CASE WHEN os.o_orderkey IS NULL THEN 'added'
      |       WHEN ns.o_orderkey IS NULL THEN 'removed'
      |       WHEN os.price_cents IS DISTINCT FROM ns.price_cents
      |         OR os.o_orderstatus IS DISTINCT FROM ns.o_orderstatus
      |       THEN 'changed' END AS change_type
      |FROM os FULL OUTER JOIN ns ON os.o_orderkey = ns.o_orderkey
      |WHERE CASE WHEN os.o_orderkey IS NULL THEN 'added'
      |       WHEN ns.o_orderkey IS NULL THEN 'removed'
      |       WHEN os.price_cents IS DISTINCT FROM ns.price_cents
      |         OR os.o_orderstatus IS DISTINCT FROM ns.o_orderstatus
      |       THEN 'changed' END IS NOT NULL""".stripMargin

  // ---------------------------------------------------------------------
  // Merkle-style sync: range digests of the SAME two snapshots as
  // q_snapshot_diff, diffed at bucket granularity. The gate checks the
  // digest math end to end — a changed/added/removed row must flip its
  // bucket's (count, digest) identically in both engines.
  // ---------------------------------------------------------------------
  def rangeDigestDiff(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      cents(col("o_totalprice")).as("price_cents"), col("o_orderstatus"))
    val oldSnap = base.filter(col("o_orderkey") % 97 =!= 0)
    val newSnap = base.filter(col("o_orderkey") % 89 =!= 0)
      .withColumn("price_cents",
        when(col("o_orderkey") % 13 === 0, col("price_cents") * 2)
          .otherwise(col("price_cents")))
    val cols = Seq("price_cents", "o_orderstatus")
    ChangeCapture.digestDiff(
      ChangeCapture.rangeDigest(oldSnap, "o_orderkey", 64L, cols),
      ChangeCapture.rangeDigest(newSnap, "o_orderkey", 64L, cols))
  }

  val rangeDigestDiffSql: String = {
    import graft.functions.StableHash
    val h = StableHash.stable32Sql(
      "concat_ws(chr(1), o_orderkey, price_cents, o_orderstatus)")
    s"""WITH base AS (SELECT o_orderkey,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
       |    o_orderstatus FROM orders),
       |  os AS (SELECT * FROM base WHERE o_orderkey % 97 <> 0),
       |  ns AS (SELECT o_orderkey,
       |      CASE WHEN o_orderkey % 13 = 0 THEN price_cents * 2
       |           ELSE price_cents END AS price_cents,
       |      o_orderstatus FROM base WHERE o_orderkey % 89 <> 0),
       |  od AS (SELECT (o_orderkey - ((o_orderkey % 64 + 64) % 64)) // 64
       |      AS bucket, count(*) AS n_old,
       |      CAST(sum($h) AS BIGINT) AS digest_old FROM os GROUP BY 1),
       |  nd AS (SELECT (o_orderkey - ((o_orderkey % 64 + 64) % 64)) // 64
       |      AS bucket, count(*) AS n_new,
       |      CAST(sum($h) AS BIGINT) AS digest_new FROM ns GROUP BY 1)
       |SELECT bucket, n_old, digest_old, n_new, digest_new,
       |  CASE WHEN n_old IS NULL THEN 'added'
       |       WHEN n_new IS NULL THEN 'removed'
       |       WHEN n_old <> n_new OR digest_old <> digest_new
       |         THEN 'changed' END AS status
       |FROM od FULL OUTER JOIN nd USING (bucket)
       |WHERE CASE WHEN n_old IS NULL THEN 'added'
       |       WHEN n_new IS NULL THEN 'removed'
       |       WHEN n_old <> n_new OR digest_old <> digest_new
       |         THEN 'changed' END IS NOT NULL""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Digest-driven selective re-sync, end to end: digest both versions,
  // keep ONLY the flagged buckets of each snapshot (left_semi — at
  // 100 TB with bucket-aligned partitioning this is partition pruning,
  // not a scan), row-diff the survivors. Gated against the SAME oracle
  // as q_snapshot_diff: the cheap path must reproduce the full diff
  // row for row — every changed/added/removed row provably lives in a
  // digest-flagged bucket.
  // ---------------------------------------------------------------------
  def digestResync(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      cents(col("o_totalprice")).as("price_cents"), col("o_orderstatus"))
    val oldSnap = base.filter(col("o_orderkey") % 97 =!= 0)
    val newSnap = base.filter(col("o_orderkey") % 89 =!= 0)
      .withColumn("price_cents",
        when(col("o_orderkey") % 13 === 0, col("price_cents") * 2)
          .otherwise(col("price_cents")))
    val cols = Seq("price_cents", "o_orderstatus")
    val flagged = ChangeCapture.digestDiff(
        ChangeCapture.rangeDigest(oldSnap, "o_orderkey", 64L, cols),
        ChangeCapture.rangeDigest(newSnap, "o_orderkey", 64L, cols))
      .select(col("bucket"))
    def restrict(snap: org.apache.spark.sql.DataFrame) = snap
      .withColumn("bucket", expr("o_orderkey DIV 64"))
      .join(broadcast(flagged), Seq("bucket"), "left_semi")
      .drop("bucket")
    ChangeCapture.snapshotDiff(restrict(oldSnap), restrict(newSnap),
      Seq("o_orderkey"), cols)
  }

  // ---------------------------------------------------------------------
  // Boilerplate detection: most frequent word 3-grams corpus-wide with
  // occurrence + document counts (operators.TextAnalysis.commonNgrams)
  // ---------------------------------------------------------------------
  def commonNgrams(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.commonNgrams(t(s, dir, "documents"),
      "doc_id", "text")

  val commonNgramsSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |ixs AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
      |  FROM w WHERE len(ws) >= 3),
      |g AS (SELECT doc_id, array_to_string(list_slice(ws, i, i + 2), ' ')
      |    AS ngram
      |  FROM ixs)
      |SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM g GROUP BY ngram
      |ORDER BY n_docs DESC, n_occurrences DESC, ngram ASC LIMIT 20""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_quality_rules" -> (qualityRules _),
    "q_repetition" -> (repetition _),
    "q_decontaminate" -> (decontaminate _),
    "q_decontaminate_exact" -> (decontaminateExact _),
    "q_decontaminate_long" -> (decontaminateLong _),
    "q_decontaminate_index" -> (decontaminateIndex _),
    "q_pii_redact" -> (piiRedact _),
    "q_editdist_neardup" -> (editdistNearDup _),
    "q_cdc_merge" -> (cdcMerge _),
    "q_scd2" -> (scd2 _),
    "q_temporal_join" -> (temporalJoin _),
    "q_window_funcs" -> (windowFuncs _),
    "q_bucketed_join" -> (bucketedJoin _),
    "q_sink_json" -> (sinkJson _),
    "q_sink_orc" -> (sinkOrc _),
    "q_sink_jdbc" -> (sinkJdbc _),
    "q_outer_join" -> (outerJoin _),
    "q_stream_join" -> (streamJoin _),
    "q_stream_neardup" -> (streamNeardup _),
    "q_stream_cdc" -> (streamCdc _),
    "q_stream_table_cdc" -> (streamTableCdc _),
    "q_warehouse_sync" -> (warehouseSync _),
    "q_incremental_ingest" -> (incrementalIngest _),
    "q_stream_table_ingest" -> (streamTableIngest _),
    "q_stream_partitioned" -> (streamPartitioned _),
    "q_stream_mv" -> (streamMv _),
    "q_stream_upsert" -> (streamUpsert _),
    "q_gapfill" -> (gapFill _),
    "q_chunk_docs" -> (chunkDocs _),
    "q_pack_sequences" -> (packSequences _),
    "q_profile" -> (profileLineitem _),
    "q_cms_freq" -> (cmsFreq _),
    "q_bloom_probe" -> (bloomProbeDocs _),
    "q_twap" -> (twapUsers _),
    "q_sketch_distinct_bound" -> (sketchDistinctBound _),
    "q_sketch_quantile_bound" -> (sketchQuantileBound _),
    "q_sketch_merge" -> (sketchMergeConsistent _),
    "q_sliding_distinct" -> (slidingDistinct _),
    "q_mixture_weights" -> (mixtureWeights _),
    "q_mixture_temperature" -> (mixtureTemperature _),
    "q_common_ngrams" -> (commonNgrams _),
    "q_snapshot_diff" -> (snapshotDiff _),
    "q_range_digest" -> (rangeDigestDiff _),
    "q_digest_resync" -> (digestResync _),
  )

  val oracles: Map[String, String] = Map(
    "q_quality_rules" -> qualityRulesSql,
    "q_repetition" -> repetitionSql,
    "q_decontaminate" -> decontaminateSql,
    "q_decontaminate_exact" -> decontaminateExactSql,
    "q_decontaminate_long" -> decontaminateLongSql,
    "q_decontaminate_index" -> decontaminateIndexSql,
    "q_pii_redact" -> piiRedactSql,
    "q_editdist_neardup" -> editdistNearDupSql,
    "q_cdc_merge" -> cdcMergeSql,
    "q_scd2" -> scd2Sql,
    "q_temporal_join" -> temporalJoinSql,
    "q_window_funcs" -> windowFuncsSql,
    "q_bucketed_join" -> bucketedJoinSql,
    "q_sink_json" -> sinkJsonSql,
    "q_sink_orc" -> sinkOrcSql,
    "q_sink_jdbc" -> sinkJdbcSql,
    "q_outer_join" -> outerJoinSql,
    "q_stream_join" -> streamJoinSql,
    "q_stream_neardup" -> QueriesML.minhashLshPairsSql,
    "q_stream_cdc" -> cdcMergeSql,
    "q_stream_table_cdc" -> cdcMergeSql,
    "q_warehouse_sync" -> warehouseSyncSql,
    "q_incremental_ingest" -> incrementalIngestSql,
    "q_stream_table_ingest" -> streamTableIngestSql,
    "q_stream_partitioned" -> streamPartitionedSql,
    "q_stream_mv" -> streamMvSql,
    "q_stream_upsert" -> streamUpsertSql,
    "q_gapfill" -> gapFillSql,
    "q_chunk_docs" -> chunkDocsSql,
    "q_pack_sequences" -> packSequencesSql,
    "q_profile" -> profileLineitemSql,
    "q_cms_freq" -> cmsFreqSql,
    "q_bloom_probe" -> bloomProbeDocsSql,
    "q_twap" -> twapUsersSql,
    "q_sketch_distinct_bound" -> sketchDistinctBoundSql,
    "q_sketch_quantile_bound" -> sketchQuantileBoundSql,
    "q_sketch_merge" -> sketchMergeConsistentSql,
    "q_sliding_distinct" -> slidingDistinctSql,
    "q_mixture_weights" -> mixtureWeightsSql,
    "q_mixture_temperature" -> mixtureTemperatureSql,
    "q_common_ngrams" -> commonNgramsSql,
    "q_snapshot_diff" -> snapshotDiffSql,
    "q_range_digest" -> rangeDigestDiffSql,
    "q_digest_resync" -> snapshotDiffSql,
  )
}
