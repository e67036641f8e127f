package graft.operators

import scala.util.Random

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-5 scale tier: triangle counting, global rank, z-order keys,
  * histograms, Misra-Gries heavy hitters. */
class ScaleTierSpec extends SparkSpec {
  import spark.implicits._

  // --- triangle counting -------------------------------------------------

  private def bruteTriangles(edges: Seq[(Long, Long)]): (Long, Long) = {
    val canon = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.distinct
    val adj = canon.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
    val nodes = adj.keys.toSeq.sorted
    var tri = 0L
    for {
      (a, b) <- canon
      c <- adj(a) if c > b && adj(b).contains(c)
    } tri += 1
    val wedges = nodes.map { n =>
      val d = adj(n).size.toLong; d * (d - 1) / 2
    }.sum
    (tri, wedges)
  }

  test("triangleStats == brute force on random graphs") {
    val rnd = new Random(42)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = Seq.fill(150)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val (expTri, expWedge) = bruteTriangles(edges)
      val row = Graph.triangleStats(
        edges.toDF("a", "b"), "a", "b").collect()(0)
      assert(row.getAs[Long]("n_triangles") === expTri, s"trial $trial")
      assert(row.getAs[Long]("n_wedges") === expWedge, s"trial $trial")
    }
  }

  test("triangleStats collapses duplicates, reversals, self-loops") {
    // K3 written messily: dups, both directions, a self-loop
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 1L),
      (2L, 2L)).toDF("a", "b")
    val row = Graph.triangleStats(edges, "a", "b").collect()(0)
    assert(row.getAs[Long]("n_triangles") === 1L)
    assert(row.getAs[Long]("n_wedges") === 3L)
  }

  test("triangleStats on a triangle-free graph (star)") {
    val star = (2L to 8L).map(i => (1L, i)).toDF("a", "b")
    val row = Graph.triangleStats(star, "a", "b").collect()(0)
    assert(row.getAs[Long]("n_triangles") === 0L)
    assert(row.getAs[Long]("n_wedges") === 21L) // C(7,2)
  }

  // --- global rank -------------------------------------------------------

  test("globalRank == window row_number, across partition counts") {
    val rnd = new Random(7)
    val df = (1 to 500).map(i => (i.toLong, rnd.nextInt(50)))
      .toDF("id", "v")
    val expected = df.withColumn("rank",
        row_number().over(Window.orderBy(col("v").desc, col("id"))).cast("long"))
      .select("id", "rank").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    for (parts <- Seq(1, 3, 8)) {
      val got = ScaleOps.globalRank(df,
          Seq(col("v").desc, col("id").asc), partitions = parts)
        .select("id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"partitions=$parts")
    }
  }

  test("globalRunningSum == window cumsum, across partition counts") {
    val rnd = new Random(11)
    val df = (1 to 400).map(i => (i.toLong, (rnd.nextInt(21) - 10).toLong))
      .toDF("k", "delta")
    val expected = df.withColumn("running_sum",
        sum(col("delta")).over(Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select("k", "running_sum").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (parts <- Seq(1, 3, 8)) {
      val got = ScaleOps.globalRunningSum(df, Seq(col("k")), "delta",
          partitions = parts)
        .select("k", "running_sum").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"partitions=$parts")
    }
  }

  // --- z-order -----------------------------------------------------------

  private def mortonRef(x: Long, y: Long): Long = {
    var z = 0L
    for (i <- 0 until 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("zorderKey2 == reference interleave, including masking") {
    val rnd = new Random(11)
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (65535L, 65535L),
      (65536L, 2L), (123456L, 654321L)) ++
      Seq.fill(50)((rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        ScaleOps.zorderKey2(col("x"), col("y")).as("z"))
      .collect()
    got.foreach { r =>
      val (x, y) = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) === mortonRef(x & 0xFFFF, y & 0xFFFF), s"($x,$y)")
    }
  }

  test("zorderKeyN == reference interleave at n=3 and n=4; n=2 == zorderKey2") {
    def mortonRefN(vs: Seq[Long], bits: Int): Long = {
      var z = 0L
      val n = vs.size
      for (j <- vs.indices; i <- 0 until bits)
        z |= ((vs(j) >> i) & 1L) << (n * i + j)
      z
    }
    val rnd = new Random(13)
    // n = 3 (21 bits/dim) and n = 4 (15 bits/dim), masking included
    Seq(3, 4).foreach { n =>
      val bits = 63 / n
      val mask = (1L << bits) - 1L
      val pts = Seq.fill(40)(Seq.fill(n)(rnd.nextLong().abs))
      val cols = (0 until n).map(i => s"d$i")
      import spark.implicits._
      val df = pts.map {
        case Seq(a, b, c) => (a, b, c, 0L)
        case Seq(a, b, c, d) => (a, b, c, d)
      }.toDF("d0", "d1", "d2", "d3")
      val got = df.select((cols.map(col) :+
        ScaleOps.zorderKeyN(cols.map(col)).as("z")): _*).collect()
      got.foreach { r =>
        val vs = (0 until n).map(i => r.getLong(i) & mask)
        assert(r.getLong(n) === mortonRefN(vs, bits), s"n=$n $vs")
      }
    }
    // n = 2 degenerates to... a 31-bit variant of zorderKey2's 16-bit
    // interleave: same bit layout where both are defined
    val two = Seq((7L, 9L), (65535L, 1L)).toDF("x", "y")
      .select(ScaleOps.zorderKeyN(Seq(col("x"), col("y"))).as("zn"),
        ScaleOps.zorderKey2(col("x"), col("y")).as("z2"))
      .collect()
    two.foreach(r => assert(r.getLong(0) === r.getLong(1),
      "16-bit inputs must agree between zorderKey2 and zorderKeyN(2)"))
  }

  test("z-order locality: 2x2 blocks of the 4x4 grid are contiguous") {
    // first 4 keys of the Morton curve are exactly the top-left 2x2 block
    val keys = for (y <- 0L until 4L; x <- 0L until 4L)
      yield ((x, y), mortonRef(x, y))
    val firstBlock = keys.filter(_._2 < 4).map(_._1).toSet
    assert(firstBlock === Set((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L)))
  }

  // --- histogram ---------------------------------------------------------

  test("histogram: exact counts, empty bins present, range excluded") {
    val df = Seq(-5L, 0L, 1L, 9L, 10L, 55L, 99L, 100L, 150L).toDF("v")
    val h = Stats.histogram(df, "v", 0L, 100L, 10)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(h.keySet === (0 until 10).toSet)
    assert(h(0) === 3L) // 0, 1, 9
    assert(h(1) === 1L) // 10
    assert(h(5) === 1L) // 55
    assert(h(9) === 1L) // 99; -5, 100, 150 excluded
    assert(h.values.sum === 6L)
  }

  // --- robust outliers ---------------------------------------------------

  test("outliersMad: exact integer robust z-scores vs driver recompute") {
    val rows = Seq(
      // group A: median 10, MAD 2 -> 100 is the screaming outlier
      ("A", 1L, 8L), ("A", 2L, 10L), ("A", 3L, 12L), ("A", 4L, 100L),
      ("A", 5L, 9L),
      // group B: all equal -> MAD 0 -> sentinel -1 scores
      ("B", 1L, 7L), ("B", 2L, 7L), ("B", 3L, 7L))
      .toDF("g", "k", "x")
    val out = Stats.outliersMad(rows, "g", "x", Seq("k"), topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getInt(4)))
    def rz(xs: Seq[Long], x: Long): Long = {
      def med2(s: Seq[Long]): Long = { // 2x interpolated median, exact
        val v = s.sorted
        if (v.size % 2 == 1) 2 * v(v.size / 2)
        else v(v.size / 2 - 1) + v(v.size / 2)
      }
      val m2 = med2(xs)
      val dev2 = xs.map(v => math.abs(2 * v - m2))
      val mad4 = med2(dev2)
      if (mad4 == 0) -1L else math.abs(2 * x - m2) * 2000000 / mad4
    }
    val aVals = Seq(8L, 10L, 12L, 100L, 9L)
    // x=8 (k=1) and x=12 (k=3) tie at rz=1e6; the key tiebreak keeps k=1
    val expectA = Seq((100L, 4L), (8L, 1L))
      .map { case (x, k) => ("A", k, rz(aVals, x)) }
    assert(out.filter(_._1 == "A").map(t => (t._1, t._2, t._3)).toSeq
      .sortBy(_._2) == expectA.sortBy(_._2))
    // MAD=0 group: every row carries the -1 sentinel, rank by tiebreak
    val b = out.filter(_._1 == "B")
    assert(b.forall(_._3 == -1L) && b.map(_._2).sorted.toSeq == Seq(1L, 2L))
  }

  // --- Misra-Gries -------------------------------------------------------

  test("MG guarantees hold across partition layouts (merge exercised)") {
    val rnd = new Random(3)
    // zipf-ish: word w_i with weight ~ 1/(i+1)
    val vocab = (0 until 80).map(i => s"w$i")
    val stream = Seq.fill(20000) {
      val i = math.min((1.0 / (rnd.nextDouble() + 0.02)).toInt, 79)
      vocab(i)
    }
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    for (k <- Seq(10, 40); parts <- Seq(1, 7)) {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(stream.map(Tuple1(_)), parts)
      ).toDF("w")
      val mg = Stats.heavyHitters(df, col("w"), k)
        .collect()(0).getAs[Map[String, Long]]("mg")
      assert(mg.size <= k - 1, s"k=$k parts=$parts size")
      mg.foreach { case (w, c) =>
        assert(c <= exact(w), s"k=$k parts=$parts overestimate $w")
        assert(c >= exact(w) - n / k - 1,
          s"k=$k parts=$parts undershoot $w: $c vs ${exact(w)}")
      }
      exact.foreach { case (w, f) =>
        if (f * k > n)
          assert(mg.contains(w), s"k=$k parts=$parts missing heavy $w ($f/$n)")
      }
    }
  }

  test("pageRank == driver-simulated fixed-point recurrence") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val n = 60
    val pairs = (1 to 90)
      .map(_ => (rnd.nextLong(n) + 1, rnd.nextLong(n) + 1))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct
    // driver-side oracle: identical integer recurrence
    val adj = pairs.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    var pr = (1L to n).map(_ -> 1000000000L).toMap
    val (num, den, iters) = (85L, 100L, 4)
    for (_ <- 0 until iters) {
      val base = 1000000000L * (den - num) / den
      pr = (1L to n).map { v =>
        val s = adj.getOrElse(v, Nil).map(u => pr(u) / deg(u)).sum
        v -> (base + num * s / den)
      }.toMap
    }
    for (parts <- Seq(1, 5)) {
      val ids = spark.createDataFrame(
        spark.sparkContext.parallelize((1L to n).map(Tuple1(_)), parts)
      ).toDF("doc_id")
      val got = Graph.pageRank(ids, "doc_id",
          pairs.toDF("id_a", "id_b"), "id_a", "id_b", iters,
          num.toInt, den.toInt)
        .as[(Long, Long)].collect().toMap
      assert(got == pr, s"parts=$parts")
    }
  }

  test("pageRank + minLabelClusters stay exact on a 10%-degree hub graph") {
    // Skew shape from the round-5 verdict: a supernode adjacent to 10%
    // of all nodes over a sparse random background. Both Pregel loops
    // hash-partition raw ids, so the hub's whole adjacency sits in one
    // partition — this pins correctness under that imbalance (the
    // wall-clock skew itself was measured at n=50,000: worst-stage
    // skew < 2x, so no salting; PERF.md, "Round-6: Pregel loops
    // skew-stressed").
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val n = 300L
    val hub = (1L to n / 10).map(i => (0L, i))
    val bg = (1 to 600)
      .map(_ => (rnd.nextLong(n), rnd.nextLong(n)))
      .filter(e => e._1 != e._2)
    val pairs = (hub ++ bg)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = pairs.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    // driver PageRank oracle (same integer recurrence)
    var pr = (0L until n).map(_ -> 1000000000L).toMap
    for (_ <- 0 until 3) {
      pr = (0L until n).map { v =>
        val s = adj.getOrElse(v, Nil).map(u => pr(u) / deg(u)).sum
        v -> (1000000000L * 15 / 100 + 85L * s / 100)
      }.toMap
    }
    // driver min-label oracle: 6 rounds of synchronous min propagation
    var lbl = (0L until n).map(v => v -> v).toMap
    for (_ <- 0 until 6) {
      lbl = (0L until n).map { v =>
        v -> (lbl(v) +: adj.getOrElse(v, Nil).map(lbl)).min
      }.toMap
    }
    val ids = spark.range(0, n).toDF("id")
    val pdf = pairs.toDF("id_a", "id_b")
    val gotPr = Graph.pageRank(ids, "id", pdf, "id_a", "id_b", 3)
      .as[(Long, Long)].collect().toMap
    assert(gotPr == pr)
    val gotLbl = Dedup.minLabelClusters(ids, "id", pdf, "id_a", "id_b", 6)
      .select("id", "cluster").as[(Long, Long)].collect().toMap
    assert(gotLbl == lbl)
  }

  test("pageRank: zero iterations returns the uniform base score") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L).toDF("doc_id")
    val out = Graph.pageRank(ids, "doc_id",
        Seq((1L, 2L)).toDF("id_a", "id_b"), "id_a", "id_b", 0)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1000000000L, 2L -> 1000000000L,
      3L -> 1000000000L))
  }

  // --- connected components (star contraction) ---------------------------

  private def unionFind(n: Long, pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]() ++
      (0L until n).map(v => v -> v)
    def find(v: Long): Long = {
      var r = v
      while (parent(r) != r) r = parent(r)
      var c = v
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(v => v -> find(v)).toMap
  }

  test("connectedComponents == union-find on random graphs, all densities") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    for ((n, m) <- Seq((40L, 10), (60L, 60), (50L, 200))) {
      val pairs = (1 to m)
        .map(_ => (rnd.nextLong(n), rnd.nextLong(n)))
        .filter(e => e._1 != e._2).distinct
      val expected = unionFind(n, pairs)
      val got = Graph.connectedComponents(
          spark.range(0, n).toDF("id"), "id",
          pairs.toDF("id_a", "id_b"), "id_a", "id_b")
        .select("id", "cluster").as[(Long, Long)].collect().toMap
      assert(got == expected, s"n=$n m=$m")
    }
  }

  test("connectedComponents converges on a long path (diameter >> rounds)") {
    import spark.implicits._
    // a 400-node path: K-round min-label propagation would need 400
    // rounds; star contraction needs O(log^2)
    val n = 400L
    val pairs = (1L until n).map(i => (i - 1, i))
    val got = Graph.connectedComponents(
        spark.range(0, n).toDF("id"), "id",
        pairs.toDF("id_a", "id_b"), "id_a", "id_b")
      .select("id", "cluster").as[(Long, Long)].collect()
    assert(got.forall(_._2 == 0L))
    // and the keep flag marks exactly the component minimum
    val keeps = Graph.connectedComponents(
        spark.range(0, n).toDF("id"), "id",
        pairs.toDF("id_a", "id_b"), "id_a", "id_b")
      .filter(col("keep")).select("id").as[Long].collect()
    assert(keeps.toSeq == Seq(0L))
  }

  test("connectedComponents: isolated nodes, empty edges, hub shape") {
    import spark.implicits._
    val empty = Graph.connectedComponents(
        spark.range(0, 5).toDF("id"), "id",
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b")
      .select("id", "cluster").as[(Long, Long)].collect().toMap
    assert(empty == (0L until 5L).map(v => v -> v).toMap)
    // hub: node 9 adjacent to 10..29; isolated 0..8 self-labeled
    val hub = (10L to 29L).map(v => (9L, v))
    val got = Graph.connectedComponents(
        spark.range(0, 30).toDF("id"), "id",
        hub.toDF("id_a", "id_b"), "id_a", "id_b")
      .select("id", "cluster").as[(Long, Long)].collect().toMap
    assert((0L to 8L).forall(v => got(v) == v))
    assert((9L to 29L).forall(v => got(v) == 9L))
  }

  // --- key-skew profile --------------------------------------------------

  test("modePerGroup: highest count wins, value-asc tiebreak") {
    import spark.implicits._
    val df = Seq(("g1", "b"), ("g1", "b"), ("g1", "a"),
      ("g2", "z"), ("g2", "y"))  // g2: tie -> smaller value 'y' wins
      .toDF("g", "v")
    val out = Stats.modePerGroup(df, "g", "v")
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("g1", "b", 2L), ("g2", "y", 1L)))
  }

  test("equiDepthBins: near-equal counts, contiguous non-overlapping bounds") {
    import spark.implicits._
    val df = (1L to 103L).map(i => ("g", i, i * 10)).toDF("g", "id", "x")
    val bins = Stats.equiDepthBins(df, "g", "x", Seq("id"), k = 4)
      .orderBy("bin")
      .as[(String, Int, Long, Long, Long)].collect()
    assert(bins.map(_._2).toSeq == Seq(1, 2, 3, 4))
    assert(bins.map(_._3).sum == 103L)
    assert(bins.map(_._3).max - bins.map(_._3).min <= 1) // 26,26,26,25
    bins.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 < b._4, "bin bounds must not overlap")
    }
  }

  test("joinSizeEstimate == the real join's count") {
    import spark.implicits._
    val a = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")
    val b = Seq(1L, 1L, 2L, 4L).toDF("k")
    val est = Stats.joinSizeEstimate(a, b, "k")
      .as[(Long, Long)].collect().head
    assert(est == ((3L * 2 + 1L * 1, 2L)))
    assert(est._1 == a.join(b, "k").count())
  }

  test("keySkew: exact integer profile vs driver recompute") {
    import spark.implicits._
    // key 1 hot (5 rows), keys 2..4 one row each -> 8 rows, 4 keys
    val df = (Seq.fill(5)(1L) ++ Seq(2L, 3L, 4L)).toDF("k0")
    val r = Stats.keySkew(df, col("k0")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 8L, 5L, 1L)))
    assert(r.getLong(4) == 8L * 1000 / 4)         // avg_x1000 = 2000
    assert(r.getLong(5) == 5L * 1000000 / 8)      // top_share_ppm = 625000
  }
}
