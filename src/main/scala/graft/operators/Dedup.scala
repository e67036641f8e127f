package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design (the point of each shape):
  *  - exact: one hash-aggregate on the dedup key — partial (map-side)
  *    aggregation collapses duplicates before the shuffle, so shuffle
  *    volume is O(distinct), not O(rows).
  *  - minhash: explode-to-shingles is narrow; the signature aggregate is
  *    a set of `min()`s, all partial-aggregable, so each map task emits
  *    at most k values per doc. LSH banding then shuffles only
  *    (band, band-hash) keys — never document text — and candidate
  *    verification touches only bucket collisions, not n^2 pairs.
  *  - simhash: same explode+aggregate shape, one 32-bit signature per
  *    doc; near-dup = small hamming distance, joinable by rotating
  *    bit-blocks (blocked here on a prefix block).
  *  - jaccard: exact verification for candidate pairs only — always run
  *    it AFTER a blocking/LSH stage at scale.
  */
object Dedup {

  /** Exact dedup on `keyCols`: one representative (min of `idCol`) and
    * the duplicate count per distinct key. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Distinct character n-gram shingles: (id, shingle) rows.
    * Dedup happens per-row with `array_distinct` BEFORE the explode —
    * a narrow map — rather than a global `.distinct()`, which would
    * shuffle every (id, shingle) row just to dedup within each id. */
  def shingles(df: DataFrame, idCol: String, textCol: String,
               n: Int): DataFrame =
    df.select(col(idCol), explode(shingleArray(col(textCol), n)).as("shingle"))

  /** Distinct character n-gram shingle array (per-row narrow map). */
  def shingleArray(text: Column, n: Int): Column = {
    val positions = sequence(lit(1), greatest(length(text) - (n - 1), lit(1)))
    array_distinct(transform(positions, i => text.substr(i, lit(n))))
  }

  /** k-function MinHash signatures: one row per doc, columns mh0..mh(k-1).
    * Hash family is engine-portable (StableHash): signatures can be
    * recomputed bit-for-bit by any SQL engine.
    *
    * Entirely per-row array arithmetic — shingle set, base hashes, and
    * all k minima happen inside one map stage with NO explode and NO
    * shuffle; each task emits k longs per document. The explode+groupBy
    * formulation shuffles or partially-aggregates every (doc, shingle)
    * row for the same answer. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, k: Int = 8): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    // shingle + hash (plans.ShingleHash32) then all k minima
    // (plans.MinhashSignature): two codegen'd kernels, zero interpreted
    // higher-order functions, one long[] intermediate per row.
    // The md5-per-shingle hashing is the dominant cost — make sure a
    // small single-file input doesn't serialize it onto one task.
    val withSig = ScaleOps
      .ensureParallelism(df, df.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__sig",
        call_function(graft.plans.GraftFunctions.MinhashName,
          call_function(graft.plans.GraftFunctions.ShingleHashName,
            col(textCol), lit(n)),
          lit(k)))
    val sigCols = (0 until k).map(i =>
      element_at(col("__sig"), i + 1).as(s"mh$i"))
    withSig.select(col(idCol) +: sigCols: _*)
  }

  /** LSH banding over a signature frame: b bands of r rows each
    * (b*r must equal the signature width k). Emits (id, band, band_key).
    * One explode over a per-row band array — NOT a union of b selects,
    * which would recompute the whole signature aggregation b times. */
  def lshBands(signatures: DataFrame, idCol: String, k: Int,
               bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    val bandStructs = (0 until bands).map { b =>
      val sigCols = (b * r until (b + 1) * r).map(i => col(s"mh$i"))
      struct(lit(b).as("band"),
        md5(concat_ws("_", sigCols: _*)).as("band_key"))
    }
    signatures
      .select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  /** Exact-dup KEEPER filter: retain only the minimum-id row per key —
    * the window form of [[exact]] that keeps the full row (exact keeps
    * only the key + counts). One window shuffle on the dedup key.
    * The keeper semantics (min-id tiebreak) has one library definition;
    * QueriesML.curationPipeline inlines the same window because its
    * keeper is fused into a combined filter with quality/lang
    * conditions (equivalent here since quality is text-determined). */
  def keepFirst(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__keep_id",
        min(col(idCol)).over(Window.partitionBy(keyCols.map(col): _*)))
      .filter(col(idCol) === col("__keep_id"))
      .drop("__keep_id")
  }

  /** Candidate near-dup pairs: docs sharing any LSH band bucket.
    * Pairs are expanded bucket-locally (groupBy bucket -> id list ->
    * double explode with id_a < id_b) instead of a bands self-join,
    * which would rebuild the signature pipeline for each join side
    * (measured slower in an interleaved A/B, exchange reuse or not;
    * PERF.md, round 2).
    * Shuffle volume: one exchange of (band, key, id), then one
    * distinct over candidate pairs.
    *
    * `maxBucketSize`: HOT-BUCKET CAP for corpus scale. A bucket of m
    * docs emits m(m-1)/2 pairs; one boilerplate-heavy bucket (empty
    * pages, license headers) of 10^5 docs would emit 5×10^9 pairs and
    * dominate the job. Buckets over the cap are DROPPED — near-dups of
    * ultra-common content are better handled by exact dedup upstream
    * (identical boilerplate hashes equal), and a true near-dup pair
    * still surfaces through any of its other `bands-1` buckets. Recall
    * loss is bounded to pairs whose EVERY shared bucket is hot —
    * measured/characterized in DedupSpec. Default None (exact LSH). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, k: Int = 8, bands: Int = 4,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, n, k)
    val b = lshBands(sigs, idCol, k, bands)
    val buckets = b.groupBy(col("band"), col("band_key"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) > 1)
    val capped = maxBucketSize
      .map(cap => buckets.filter(size(col("ids")) <= cap))
      .getOrElse(buckets)
    capped
      // the bucket frame is tiny in BYTES but its expansion is the
      // quadratic part — AQE's size-based coalescing would run it on
      // one partition; spread buckets explicitly before exploding
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
  }

  /** Distinct word w-gram shingles (w-shingling): (id, shingle) rows.
    * Word shingles have far lower document frequency than character
    * n-grams on natural text, which bounds the inverted-index join
    * fanout in [[ngramJaccardPairs]]. Narrow (array ops + explode). */
  def wordShingles(df: DataFrame, idCol: String, textCol: String,
                   w: Int): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol),
      explode(call_function(graft.plans.GraftFunctions.WordShinglesName,
        col(textCol), lit(w))).as("shingle"))
  }

  /** Distinct word w-gram shingle array — declarative twin of the
    * [[graft.plans.WordShingleArray]] kernel (kept as the readable
    * specification and the test oracle for it). */
  def wordShingleArray(text: Column, w: Int): Column = {
    val toks = split(text, " ")
    val positions = sequence(lit(1), greatest(size(toks) - (w - 1), lit(1)))
    array_distinct(transform(positions,
      i => concat_ws(" ", slice(toks, i, lit(w)))))
  }

  /** Exact n-gram Jaccard similarity for pairs sharing a blocking key.
    * `blockCol` bounds the quadratic term: n^2 only within a block —
    * choose it so blocks stay small (e.g. language x length-bucket;
    * near-dups rarely differ much in length).
    *
    * Shape: shingle ONCE into an array column (set size = array size —
    * no separate sizes aggregation or join), explode to an inverted
    * index keyed on (block, shingle), then expand each posting list
    * bucket-locally into co-occurrence pairs. Two shuffles total
    * (bucket group-by, pair count group-by), no self-join, no
    * re-computation of the shingling subtree per join side. At 100 TB
    * the fanout of high-document-frequency shingles is the bottleneck:
    * tighter blocking (or prefix filtering / LSH candidates first) is
    * mandatory, not optional. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int = 5,
                        minJaccard: Double = 0.0,
                        wordGrams: Boolean = false): DataFrame = {
    val sh = if (wordGrams) wordShingles(df, idCol, textCol, n)
             else shingles(df, idCol, textCol, n)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val blocks = df.select(col(idCol), col(blockCol))
    val withBlock = sh.join(blocks, idCol)
    val a = withBlock.select(col(blockCol), col("shingle"),
      col(idCol).as("id_a"))
    val b = withBlock.select(col(blockCol), col("shingle"),
      col(idCol).as("id_b"))
    // measured on sf0.1 (PERF.md, "What was changed and why (round
    // 2)": 2.5 s vs 4.1 s): this flat self-join beats both a
    // posting-list explode (slice() copies O(m)-arrays per emitted pair
    // on hot shingles) and carrying sz through the explode (size(arr)
    // next to explode(arr) recomputes the shingling per reference) —
    // keep pair expansion flat and join tiny per-doc sizes afterwards
    val inter = a.join(b, Seq(blockCol, "shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT set-similarity self-join via prefix filtering (AllPairs /
    * PPJoin, Bayardo et al. 2007; Xiao et al. 2008) — the recall-1
    * alternative to LSH candidates: every pair with word-w-gram
    * Jaccard >= `minJaccard` is RETURNED, guaranteed, yet the join
    * touches only token PREFIXES.
    *
    * Principle: order each doc's shingles by one GLOBAL total order
    * (document frequency ascending, then shingle — rarest first); a
    * pair at Jaccard >= t must share at least one shingle within both
    * docs' first `|d| - ceil(t*|d|) + 1` shingles (if the whole
    * intersection sat in the suffix, it would have fewer than
    * ceil(t*|d|) elements — below the t-threshold minimum). Candidates
    * are therefore the prefix-token self-join only; exact
    * [[jaccardVerifyPairs]] removes false positives.
    *
    * Scale shape: rarest-first ordering is the skew story — a
    * boilerplate shingle shared by half the corpus sorts LAST and
    * never enters a prefix unless t is tiny, inverting LSH's
    * hot-bucket problem instead of capping it. Work: one DF aggregate,
    * one per-doc window (rank within doc), prefix self-join emitting
    * bare id pairs, dedup BEFORE the texts-last verify. At t = 0.8
    * prefixes are ~20% of tokens; candidate volume falls quadratically
    * in (1 - t). */
  def jaccardPrefixJoin(df: DataFrame, idCol: String, textCol: String,
                        w: Int, minJaccard: Double): DataFrame = {
    val sh = wordShingles(df, idCol, textCol, w)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("df"), col("shingle"))
    // ceil on a double product can land one integer HIGH when t*sz is
    // not representable (e.g. 0.7*10); subtracting an epsilon only ever
    // LENGTHENS the prefix — the safe direction for recall
    val prefixLen = col("sz") -
      ceil(col("sz") * lit(minJaccard) - lit(1e-9)).cast("long") + 1
    val prefix = sh.join(dfreq, Seq("shingle"))
      .join(sizes, Seq(idCol))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") <= prefixLen)
      .select(col(idCol), col("shingle"), col("sz"))
    val a = prefix.select(col("shingle"), col(idCol).as("id_a"),
      col("sz").as("sz_a"))
    val b = prefix.select(col("shingle"), col(idCol).as("id_b"),
      col("sz").as("sz_b"))
    val cands = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      // AllPairs length filter: J(A,B) <= min/max of the set sizes, so
      // a size-incompatible pair can never verify — prune it BEFORE the
      // dedup exchange and the kernel verify (8 bytes of sz per row buys
      // dropping candidates that are pure shuffle waste)
      .filter(least(col("sz_a"), col("sz_b")) >=
        ceil(greatest(col("sz_a"), col("sz_b")) * lit(minJaccard) -
          lit(1e-9)).cast("long"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    jaccardVerifyPairs(cands, df, idCol, textCol, w, minJaccard)
  }

  /** Exact word w-gram Jaccard verification of candidate pairs — the
    * verify half of the LSH→verify near-dup pipeline. `pairs` must
    * carry (id_a, id_b); each side is joined to its text, then ONE
    * codegen'd kernel ([[graft.plans.WordJaccard]]) builds both shingle
    * sets and the exact Jaccard per pair in a single compiled pass.
    *
    * Why texts + kernel rather than pre-built shingle(-hash) arrays:
    * the join output materializes its payload per CANDIDATE, and
    * kilobytes of array per pair dominated the runtime (measured ~8 s
    * of the sf0.1 query, broadcast or shuffle alike); the pair row here
    * carries two ~1 KB strings and emits one double. Shuffle volume is
    * O(pairs · text), with LSH keeping pairs near-linear in docs. */
  def jaccardVerifyPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                         textCol: String, w: Int,
                         minJaccard: Double): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val texts = docs.select(col(idCol), col(textCol))
    pairs
      // pairs are bytes-tiny but each costs a kernel evaluation — AQE's
      // size-based coalescing would serialize the verify stage
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      // no broadcast hint: the planner broadcasts a small text table on
      // its own (it does here, and perf was measured alike either way);
      // a forced hint would cap the corpus at driver memory at scale
      .join(texts.select(col(idCol).as("id_a"),
        col(textCol).as("__t_a")), "id_a")
      .join(texts.select(col(idCol).as("id_b"),
        col(textCol).as("__t_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        call_function(graft.plans.GraftFunctions.WordJaccardName,
          col("__t_a"), col("__t_b"), lit(w)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Fuzzy (similarity) JOIN across two corpora: MinHash-LSH candidate
    * generation between `left` and `right`, exact word w-gram Jaccard
    * verification once per deduplicated (id_l, id_r) pair.
    *
    * The cross-corpus twin of the self-join near-dup pipeline
    * ([[minhashCandidates]] → [[jaccardVerifyPairs]]) — the everyday
    * shape is "which scraped documents fuzzily match the curated /
    * licensed / already-ingested set". Both sides are shingled and
    * banded with IDENTICAL parameters (the bucket join only works if
    * band keys are computed the same way), candidates are the banded
    * bucket join left×right (never the |L|·|R| cross product), pairs
    * are deduplicated across bands BEFORE the texts join back, and the
    * verification kernel runs once per pair.
    *
    * Shuffle: O(docs) signature rows on band keys + O(pairs · text) in
    * the verify join. `maxBucketSize` caps boilerplate-bucket blowup
    * exactly as in [[minhashCandidates]] — at 100 TB the cap is what
    * bounds the candidate volume under adversarial near-constant
    * documents. Ids on the two sides may overlap (they are separate
    * keyspaces); the output never pairs a row with itself only if the
    * caller's corpora are genuinely disjoint — identity filtering is
    * the caller's semantics, not the join's. */
  def fuzzyJoin(left: DataFrame, right: DataFrame, idCol: String,
                textCol: String, n: Int = 5, k: Int = 8, bands: Int = 4,
                w: Int = 3, minJaccard: Double = 0.5,
                maxBucketSize: Option[Int] = None): DataFrame = {
    val spark = left.sparkSession
    val bl = lshBands(minhashSignatures(left, idCol, textCol, n, k),
      idCol, k, bands)
      .select(col("band"), col("band_key"), col(idCol).as("id_l"))
    val br = lshBands(minhashSignatures(right, idCol, textCol, n, k),
      idCol, k, bands)
      .select(col("band"), col("band_key"), col(idCol).as("id_r"))
    val capped = maxBucketSize match {
      case Some(cap) =>
        // cap the LEFT occupancy per bucket (mirrors minhashCandidates:
        // a bucket hit by > cap rows is boilerplate, not similarity)
        val sizes = bl.groupBy(col("band"), col("band_key"))
          .agg(count(lit(1)).as("__bsz"))
        bl.join(sizes, Seq("band", "band_key"))
          .filter(col("__bsz") <= cap).drop("__bsz")
      case None => bl
    }
    val cands = capped.join(br, Seq("band", "band_key"))
      .select(col("id_l"), col("id_r"))
      .distinct()
    val lt = left.select(col(idCol).as("id_l"), col(textCol).as("__t_l"))
    val rt = right.select(col(idCol).as("id_r"), col(textCol).as("__t_r"))
    cands
      // candidate rows are bytes-tiny; AQE would serialize the verify
      // kernel onto one task (same measured pitfall as jaccardVerifyPairs)
      .repartition(spark.sparkContext.defaultParallelism)
      .join(lt, "id_l")
      .join(rt, "id_r")
      .select(col("id_l"), col("id_r"),
        call_function(graft.plans.GraftFunctions.WordJaccardName,
          col("__t_l"), col("__t_r"), lit(w)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** SimHash near-dup candidate pairs by BIT-BLOCK ROTATION: the 32-bit
    * signature is split into `blocks` equal blocks and candidates are
    * pairs agreeing on ANY block (each within `maxHamming` total bit
    * distance). Pigeonhole guarantee: h differing bits can touch at
    * most h blocks, so every pair with hamming < `blocks` shares an
    * untouched block — recall 1 for h < blocks (property-tested), and
    * much-improved (though not guaranteed) recall up to `maxHamming`.
    * The r2 formulation joined on one 16-bit prefix: any near-dup whose
    * differing bits landed in the top half was silently missed.
    *
    * Cost scales with blocks x bucket-collision volume: key width is
    * 32/blocks bits, so raising the guarantee (more blocks) coarsens
    * buckets — at blocks=16 (guarantee h<=15) keys are 2 bits and the
    * join degenerates toward all-pairs. blocks=4 (8-bit keys, 256
    * buckets/block, guarantee h<=3) is the scale default; a 64/96-bit
    * simhash is the principled fix for wider radii at corpus scale. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, blocks: Int = 4): DataFrame = {
    require(32 % blocks == 0, s"blocks=$blocks must divide 32")
    val bits = 32 / blocks
    val mask = (1L << bits) - 1
    val sigs = simhash32(df, idCol, textCol)
    val exploded = sigs.select(col(idCol), col("simhash"),
      explode(array((0 until blocks).map(j =>
        struct(lit(j).as("blk"),
          shiftright(col("simhash"), j * bits).bitwiseAND(lit(mask))
            .as("bkey"))): _*)).as("bk"))
      .select(col(idCol), col("simhash"),
        col("bk.blk").as("blk"), col("bk.bkey").as("bkey"))
    // The block self-join EXPLODES: its exchange is sized by the tiny
    // signature input (O(docs) rows of 3 longs), while the join output
    // and the hamming filter are O(bucket-collision volume) — AQE
    // coalesces the exchange to ~1 partition at small inputs and the
    // whole join + partial distinct runs single-task (measured 2.1 s
    // of a 5.2 s query). We know the blow-up; the optimizer doesn't
    // (guide §8): pin the join's width with an explicit key
    // repartition at the session's configured shuffle width — a USER
    // exchange the join reuses (same keys), so the plan shape is
    // unchanged (no extra Exchange) and AQE can't shrink it below the
    // deployment's tuned parallelism.
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
      .toInt
    val a = exploded.select(col("blk"), col("bkey"),
      col(idCol).as("id_a"), col("simhash").as("sig_a"))
      .repartition(width, col("blk"), col("bkey"))
    val b = exploded.select(col("blk"), col("bkey"),
      col(idCol).as("id_b"), col("simhash").as("sig_b"))
      .repartition(width, col("blk"), col("bkey"))
    a.join(b, Seq("blk", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** Duplicate-cluster labels from candidate pairs: `rounds` of
    * min-label propagation over the (undirected) pair graph. Each node
    * ends with the smallest id reachable within `rounds` hops — for
    * near-dup graphs (tiny diameters) a handful of rounds reaches the
    * fixpoint, turning pairwise candidates into dedup clusters with a
    * canonical representative (label == id  <=>  keeper).
    *
    * The round count is part of the operator contract (label after
    * exactly `rounds` hops), which keeps it engine-portable: the same
    * K-step recurrence is expressible as K SQL self-joins. For graphs
    * whose diameter is NOT bounded (long chains, link graphs), use
    * [[Graph.connectedComponents]] — alternating small-star/large-star
    * contraction, true fixpoint in O(log^2 n) rounds.
    *
    * Execution is a Pregel-style RDD loop (the same shape GraphX
    * uses), not K stacked DataFrame self-joins: `labels` appears twice
    * per round (join left + neighbor-min input), so an unbroken lazy
    * SQL plan doubles per round — 2^rounds subtrees — and while
    * exchange reuse absorbs that for the bare query, composing the
    * result under one more join + window broke the reuse pattern and
    * re-executed the whole candidate pipeline per subtree
    * (q_cluster_keeper: 5,279-line plan, 443 file scans, 138 s vs
    * 1.1 s standalone at sf0.1 — measured). The RDD loop hash-
    * partitions edges-by-dst and labels-by-id ONCE on the same
    * partitioner; each round is then one narrow co-partitioned join,
    * one reduceByKey shuffle of O(touched nodes) messages (map-side
    * combined), and one narrow left join back — constant-size lineage,
    * no per-round plan compile, partitioner preserved across rounds.
    * Partition count follows the (AQE-coalesced) input RDDs, so local
    * runs don't pay 32-task overhead per tiny round while a 1000-
    * executor run inherits the scan's real parallelism. Measured at
    * sf0.1 (warm min-of-3, 1.77M-pair graph, 2.0 s LSH floor; PERF.md,
    * "Round-5: min-label clustering rebuilt as an RDD Pregel loop"):
    * composed keeper 138 s -> 5.1 s, standalone clusters 4.8 s (vs
    * 6.0 s for a per-round lazy localCheckpoint variant of the SQL
    * loop). Earlier rounds benched the SQL loop's bare clustering at
    * 1.1 s — that number was fake work: under `.count()` Catalyst's
    * left-outer-join elimination deleted every propagation round from
    * the plan. The RDD loop always does the real work.
    *
    * The RDD path requires LONG ids (the near-dup operators here all
    * key by long doc ids); any other id type falls back to the
    * equivalent SQL-loop with per-round lazy lineage truncation.
    */
  def minLabelClusters(ids: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String, bCol: String,
                       rounds: Int): DataFrame = {
    val idField = ids.select(col(idCol)).schema.head
    if (idField.dataType == org.apache.spark.sql.types.LongType)
      minLabelClustersRdd(ids, idCol, pairs, aCol, bCol, rounds)
    else minLabelClustersSql(ids, idCol, pairs, aCol, bCol, rounds)
  }

  private def minLabelClustersRdd(ids: DataFrame, idCol: String,
                                  pairs: DataFrame, aCol: String,
                                  bCol: String, rounds: Int): DataFrame = {
    val spark = ids.sparkSession
    // toRdd (InternalRow) instead of .rdd (external Row): skips the
    // RowEncoder deserialization of every pair — primitives are read
    // straight out of the UnsafeRow, which is NOT retained (reused
    // buffers are safe because getLong copies the value out).
    val edgeRows = pairs.select(col(aCol).cast("long"),
      col(bCol).cast("long")).queryExecution.toRdd
      .map(ir => (ir.getLong(0), ir.getLong(1)))
    val idRows = ids.select(col(idCol).cast("long")).queryExecution.toRdd
      .map(ir => ir.getLong(0))
    // Loop width: NODES-proportional (idRows), not the candidate
    // join's width. Every per-round shuffle (message reduceByKey,
    // label join) is O(nodes); inheriting the pair pipeline's
    // deliberately-widened exchange (simhashPairs pins its exploding
    // join at the conf shuffle width) schedules rounds of near-empty
    // tasks — measured: part=32 tripled per-round task time at sf0.1
    // vs the input-derived width, the same effect r13 measured for a
    // defaultParallelism floor. The edge chunk scan runs at `part`
    // too, so keep a floor of a quarter of the edge width for the
    // narrow per-round edge iteration at scale.
    val part = new org.apache.spark.HashPartitioner(
      math.max(idRows.getNumPartitions,
        math.max(1, edgeRows.getNumPartitions / 4)))
    // persist: every round joins against the edge set, and the pairs
    // lineage is typically an expensive candidate pipeline (LSH /
    // simhash). Edge rows are two longs — O(pairs), tiny next to the
    // corpus. Lifetime is managed by the session cache (Verify/Bench
    // clearCache between queries).
    // INDEXED edge partitions (GraphX's EdgePartition idea): each
    // partition holds ONE dst -> srcs hash index over primitive
    // arrays — ~16 B/edge instead of ~76 B/boxed Tuple2 (measured:
    // the tuple cache of this graph read back 267 MB/round), and a
    // round's message pass costs O(active) hash lookups instead of an
    // O(E) cogroup scan, so the delta rounds (tiny active sets) touch
    // only moving nodes' adjacency.
    val edgeIndex = edgeRows
      .flatMap { case (a, b) =>
        Iterator((a, b), (b, a)) } // (dst, src): message flows dst -> src
      .partitionBy(part)
      .mapPartitions({ it =>
        val bld = new java.util.HashMap[Long,
          scala.collection.mutable.ArrayBuilder.ofLong]()
        it.foreach { case (dst, src) =>
          var b = bld.get(dst)
          if (b == null) {
            b = new scala.collection.mutable.ArrayBuilder.ofLong
            bld.put(dst, b)
          }
          b += src
        }
        val m = new java.util.HashMap[Long, Array[Long]](
          math.max(16, (bld.size() / 0.75).toInt + 1))
        bld.forEach((k, v) => m.put(k, v.result()))
        Iterator.single(m)
      }, preservesPartitioning = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = idRows.map(id => (id, id))
      .partitionBy(part)
    val sc = spark.sparkContext
    // Delta propagation (Pregel vote-to-halt): only nodes whose label
    // CHANGED last round send messages. Exact for min-label — min is
    // monotone and idempotent, so a neighbor already incorporated any
    // label an unchanged node would resend — and K-hop semantics are
    // preserved (a fixpoint round is a no-op, so stopping early at one
    // yields exactly the round-K labels). Round 1 costs O(edges); later
    // rounds cost O(edges incident to still-moving nodes), which for
    // near-dup graphs (tiny diameter) collapses after a round or two.
    var active = labels
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var prev: org.apache.spark.rdd.RDD[(Long, (Long, Boolean))] = null
    var r = 0
    var done = false
    while (r < rounds && !done) {
      // zip, not cogroup: edgeIndex and active share `part`, so
      // partition i's index answers exactly partition i's active
      // nodes — O(active) lookups, zero edge-side iteration
      val msgs = edgeIndex.zipPartitions(active) { (mi, ai) =>
        if (!mi.hasNext) Iterator.empty
        else {
          val m = mi.next()
          ai.flatMap { case (dst, lbl) =>
            val srcs = m.get(dst)
            if (srcs == null) Iterator.empty
            else srcs.iterator.map(src => (src, lbl))
          }
        }
      }.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      val stepped = labels.leftOuterJoin(msgs) // narrow: same partitioner
        .mapValues { case (l, m) =>
          val n = math.min(l, m.getOrElse(l)); (n, n != l) }
        .persist(lvl)
      labels = stepped.mapValues(_._1)  // narrow: partitioner preserved
      active = stepped.filter(_._2._2).mapValues(_._1)
      sc.setJobDescription(s"minLabelClusters: round ${r + 1}")
      done = active.count() == 0        // materializes this round once
      sc.setJobDescription(null)
      if (prev != null) prev.unpersist(blocking = false)
      prev = stepped
      r += 1
    }
    // Session hygiene: the loop's working set (edge set + last round's
    // stepped) is O(edges) and would otherwise stay persisted for the
    // session's lifetime — in a long-lived session running many
    // cluster jobs the accumulated blocks push the store into
    // spill/eviction thrash (measured: 5.5 s standalone -> 31.8 s
    // after two earlier cluster queries leaked theirs). Truncate to
    // the O(nodes) final labels via localCheckpoint, materialize it,
    // then drop the heavyweight intermediates.
    val labelsFinal = labels.localCheckpoint()
    sc.setJobDescription("minLabelClusters: final labels")
    labelsFinal.count()
    sc.setJobDescription(null)
    edgeIndex.unpersist(blocking = false)
    if (prev != null) prev.unpersist(blocking = false)
    val out = labelsFinal.map { case (id, lbl) =>
      org.apache.spark.sql.Row(id, lbl, id == lbl) }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      ids.select(col(idCol)).schema.head,
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("keep",
        org.apache.spark.sql.types.BooleanType, nullable = false))))
  }

  /** Generic-id fallback: the same K-round recurrence as K SQL
    * self-joins, with per-round lazy `localCheckpoint` to stop the
    * 2^rounds lineage doubling (see [[minLabelClusters]] scaladoc).
    */
  private def minLabelClustersSql(ids: DataFrame, idCol: String,
                                  pairs: DataFrame, aCol: String,
                                  bCol: String, rounds: Int): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = ids.select(col(idCol).as("id"), col(idCol).as("lbl"))
    for (_ <- 0 until rounds) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      labels = labels.join(neighborMin, labels("id") === neighborMin("src"),
          "left")
        .select(col("id"), least(col("lbl"),
          coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(eager = false)
    }
    labels.select(col("id").as(idCol), col("lbl").as("cluster"),
      (col("id") === col("lbl")).as("keep"))
  }

  /** Per-cluster representative selection: given cluster assignments
    * (from [[minLabelClusters]]) and a per-document quality column,
    * keep the highest-quality member of each cluster (ties broken by
    * smallest id, so the choice is total and deterministic). This is
    * the "keep the best copy" half of dedup — [[exact]]/keepFirst keeps
    * an arbitrary-but-deterministic member; a curation pipeline wants
    * the longest/cleanest one.
    *
    * Shape: one hash join (assignments x quality, both narrow) and one
    * window shuffle on the cluster key; both window functions share the
    * partitioning, so Spark plans a single exchange. */
  def clusterRepresentatives(clusters: DataFrame, idCol: String,
                             clusterCol: String, quality: DataFrame,
                             qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCluster = Window.partitionBy(col(clusterCol))
    val ranked = Window.partitionBy(col(clusterCol))
      .orderBy(col(qualityCol).desc, col(idCol).asc)
    clusters.select(col(idCol), col(clusterCol))
      .join(quality, idCol)
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("__rn", row_number().over(ranked))
      .filter(col("__rn") === 1)
      .select(col(clusterCol), col(idCol).as("keeper_id"),
        col(qualityCol), col("n_members"))
  }

  /** 32-bit SimHash per document over word tokens (with multiplicity):
    * bit j of the signature is the sign of sum(+-1) of token-hash bit j.
    * One codegen'd per-row kernel (plans.Simhash32): a narrow map with
    * no tokenize-explode and no shuffle — the explode+groupBy twin it
    * replaced shuffled every (doc, token) row (declarative spec kept in
    * KernelsSpec as the oracle). */
  def simhash32(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol),
      call_function(graft.plans.GraftFunctions.Simhash32Name,
        col(textCol)).as("simhash"))
  }
}
