package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row => SRow}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.{Curation, Dedup}
import graft.sources.ParquetSink

/** curation_dedup: the LLM-data half of the engine on a generated corpus
  * with planted near-duplicate clusters. One operation is one pass:
  * quality rules, exact dedup, MinHash-LSH candidates, Jaccard
  * verification, min-label clusters, one representative per cluster,
  * written as parquet. Each step's result is cached and counted before
  * the next, in traced and untraced runs alike, so a span covers
  * exactly one step's work. */
final class CurationDedup extends Workload {

  private var corpus: Gen.Corpus = _
  private var input: String = _
  private var out: String = _

  val ShingleN = 5
  val MinhashK = 16
  val Bands = 8 // 2 rows per band
  val JaccardW = 3
  val MinJaccard = 0.5
  val Rounds = 6

  def digest(seed: Long): String = Gen.digest(Gen.corpus(seed).digestParts)

  def setup(ctx: Ctx): Unit = {
    corpus = Gen.corpus(ctx.seed)
    input = ctx.dir("corpus")
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    ctx.spark.createDataFrame(
      java.util.Arrays.asList(corpus.docs.map(d => SRow(d.id, d.text)): _*), schema)
      .repartition(ctx.cores).write.mode("overwrite").parquet(input)
    out = ctx.dir("out")
  }

  def warmup(ctx: Ctx): Unit = run(ctx, new OpRecord("pass", -1))

  def nextKind: String = "pass"

  private def step(df: DataFrame): (DataFrame, Long) = { val c = df.cache(); (c, c.count()) }

  def run(ctx: Ctx, op: OpRecord): Boolean = {
    val docs = ctx.spark.read.parquet(input)
    val (quality, _) = ctx.span("ops.quality_ms")(step(
      Curation.qualityRules(docs, "text").filter(col("keep"))
        .select(col("doc_id"), col("text"), col("n_words").cast("long").as("n_words"))))
    val (kept, _) = ctx.span("ops.exact_dedup_ms")(step(
      Dedup.keepFirst(quality, Seq("text"), "doc_id")))
    val (cands, nCands) = ctx.span("ops.candidates_ms")(step(
      Dedup.minhashCandidates(kept, "doc_id", "text", ShingleN, MinhashK, Bands)))
    val (pairs, nPairs) = ctx.span("ops.verify_ms")(step(
      Dedup.jaccardVerifyPairs(cands, kept, "doc_id", "text", JaccardW, MinJaccard)))
    val (reps, nReps) = ctx.span("ops.cluster_ms")(step(
      Dedup.clusterRepresentatives(
        Dedup.minLabelClusters(kept.select(col("doc_id")), "doc_id", pairs, "id_a", "id_b", Rounds),
        "doc_id", "cluster", kept.select(col("doc_id"), col("n_words")), "n_words")))
    ctx.span("ops.write_ms")(ParquetSink(out, "representatives").write(reps))
    op.add("ops.candidate_pairs", nCands.toDouble)
    op.add("ops.verified_pairs", nPairs.toDouble)
    op.rows = nReps
    true
  }

  def check(ctx: Ctx): Seq[String] = {
    val model = new CurationModel(corpus, ShingleN, MinhashK, Bands, JaccardW, MinJaccard, Rounds)
    val want = model.representatives
    val got = ctx.spark.read.parquet(s"$out/representatives")
      .select("cluster", "keeper_id", "n_words", "n_members").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val missing = want -- got
    val extra = got -- want
    System.err.println(s"[perfbench] planted clusters collapsed to one representative: " +
      s"${model.collapsed(got)} of ${corpus.clusters.length}")
    if (missing.isEmpty && extra.isEmpty) Nil
    else Seq(s"representatives: ${got.size} rows, model ${want.size}; ${missing.size} missing " +
      s"(e.g. ${missing.take(3).mkString(", ")}), ${extra.size} unexpected " +
      s"(e.g. ${extra.take(3).mkString(", ")})")
  }

  def spaceAmp(ctx: Ctx): Double = Main.plainRatio(ctx, Seq(s"$out/representatives"))

  override def state(ctx: Ctx): Map[String, Double] = Map(
    "table.data_files" -> Layers.files(out, _.endsWith(".parquet")).toDouble)
}

/** Expected representatives in plain Scala, following each operator's
  * specified semantics: the quality rules; exact dedup by text (lowest id
  * kept); character-shingle MinHash with the universal family
  * (a_j*x + b_j) mod p over md5-32 shingle hashes, banded into buckets;
  * word w-gram Jaccard verification; `rounds` synchronous min-label
  * rounds; per cluster the member with most words, then lowest id.
  * `collapsed` counts the planted clusters whose surviving members share
  * one representative: the recall of the near-duplicate stage. */
final class CurationModel(c: Gen.Corpus, shingleN: Int, k: Int, bands: Int, w: Int,
                          minJaccard: Double, rounds: Int) {

  private val Mod = 4294967291L

  private def md5_32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  private def signature(text: String): Vector[Long] = {
    val n = math.max(text.length - (shingleN - 1), 1)
    val xs = (0 until n).map(i => text.substring(i, math.min(i + shingleN, text.length)))
      .distinct.map(md5_32)
    Vector.tabulate(k)(j => xs.map(x => ((2L * j + 1L) * x + (1L * j * j + 7L)) % Mod).min)
  }

  private def grams(text: String): Set[String] = {
    val t = text.split(" ", -1)
    (0 until math.max(t.length - (w - 1), 1)).map(i => t.slice(i, i + w).mkString(" ")).toSet
  }

  val kept: Vector[Gen.Doc] = {
    val first = mutable.HashMap.empty[String, Long]
    c.docs.filter(d => CurationModel.keep(d.text))
      .filter(d => first.getOrElseUpdate(d.text, d.id) == d.id)
  }
  private val words = kept.iterator.map(d => d.id -> d.text.split(" ", -1).length.toLong).toMap

  val pairs: Set[(Long, Long)] = {
    val r = k / bands
    val buckets = mutable.HashMap.empty[(Int, Vector[Long]), mutable.ArrayBuffer[Long]]
    kept.foreach { d =>
      val sig = signature(d.text)
      (0 until bands).foreach(b =>
        buckets.getOrElseUpdate((b, sig.slice(b * r, (b + 1) * r)), mutable.ArrayBuffer.empty) += d.id)
    }
    val cands = buckets.valuesIterator.filter(_.length > 1).flatMap { ids =>
      for (a <- ids.iterator; b <- ids.iterator if a < b) yield (a, b) }.toSet
    val text = kept.iterator.map(d => d.id -> d.text).toMap
    cands.filter { case (a, b) =>
      val ga = grams(text(a)); val gb = grams(text(b))
      (ga & gb).size.toDouble / (ga | gb).size >= minJaccard
    }
  }

  val cluster: Map[Long, Long] = {
    val nb = mutable.LongMap.empty[List[Long]]
    pairs.foreach { case (a, b) =>
      nb(a) = b :: nb.getOrElse(a, Nil); nb(b) = a :: nb.getOrElse(b, Nil) }
    var label = kept.iterator.map(d => d.id -> d.id).toMap
    (1 to rounds).foreach { _ =>
      label = label.map { case (v, l) => v -> (l :: nb.getOrElse(v, Nil).map(label)).min }
    }
    label
  }

  def representatives: Set[(Long, Long, Long, Long)] =
    kept.groupBy(d => cluster(d.id)).iterator.map { case (g, ds) =>
      val best = ds.minBy(d => (-words(d.id), d.id))
      (g, best.id, words(best.id), ds.length.toLong)
    }.toSet

  def collapsed(reps: Set[(Long, Long, Long, Long)]): Int = {
    val sizes = reps.iterator.map(r => r._1 -> r._4).toMap
    c.clusters.count { members =>
      val alive = members.filter(words.contains)
      alive.nonEmpty && sizes.get(alive.min).contains(alive.length.toLong)
    }
  }
}

object CurationModel {

  def keep(text: String): Boolean = {
    val words = text.split(" ", -1)
    val n = words.length
    val meanWlE2 = text.count(_ != ' ').toLong * 100 / n
    val symbolE6 = text.toLowerCase.count(c =>
      !((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ')).toLong * 1000000 /
      math.max(text.length, 1)
    val stops = words.count(w => w == "the" || w == "a")
    n >= Curation.MinWords && n <= Curation.MaxWords &&
      meanWlE2 >= Curation.MinMeanWlE2 && meanWlE2 <= Curation.MaxMeanWlE2 &&
      symbolE6 <= Curation.MaxSymbolE6 && stops >= 1
  }
}
