package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ValidateSpec extends SparkSpec {
  import spark.implicits._

  test("clean trims strings, abs's numerics, leaves other types alone") {
    val df = Seq(
      ("  a  ", -3, -2.5, true),
      ("b", 4, 1.5, false)
    ).toDF("s", "i", "d", "b")
    val out = Validate.clean(df).collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    assert(out.toSet == Set(("a", 3, 2.5, true), ("b", 4, 1.5, false)))
  }

  test("clean emits a single Project (no withColumn plan bloat)") {
    val df = Seq(("x", 1)).toDF("s", "i")
    val plan = Validate.clean(df).queryExecution.analyzed.toString
    // one Project node over the local relation
    assert(plan.linesIterator.count(_.trim.startsWith("Project")) == 1)
  }
}

class FlattenSpec extends SparkSpec {
  import spark.implicits._

  test("explodeDelimited yields one row per item") {
    val df = Seq((1L, "a b c"), (2L, "d")).toDF("id", "payload")
    val out = Flatten.explodeDelimited(df, "payload", " ", "tok")
      .select("id", "tok").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (1L, "b"), (1L, "c"), (2L, "d")))
  }

  test("explodeRecords parses packed triples with casts (reference shape)") {
    val df = Seq((1L, "Water|drinks|2~Chips|snacks|3")).toDF("id", "order_detail")
    val out = Flatten.explodeRecords(df, "order_detail", "~", "\\|",
      Seq(("product", 0, None), ("aisle", 1, None), ("qty", 2, Some("int"))))
    assert(out.columns.toSeq == Seq("id", "product", "aisle", "qty"))
    val rows = out.as[(Long, String, String, Int)].collect().toSet
    assert(rows == Set((1L, "Water", "drinks", 2), (1L, "Chips", "snacks", 3)))
  }
}

class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  test("perGroup computes exact interpolated quantiles per group") {
    // exact percentile_cont reference implementation
    def pcont(sorted: IndexedSeq[Double], p: Double): Double = {
      val pos = p * (sorted.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < sorted.length) sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
      else sorted(lo)
    }
    val df = (1 to 100).map(i => (i % 3, i.toDouble)).toDF("g", "v")
    val out = Quantiles.perGroup(df, "g", "v", Seq(0.25, 0.5, 0.75))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    for (g <- 0 to 2) {
      val vals = (1 to 100).map(_.toDouble).filter(v => v.toInt % 3 == g).sorted
      val (o1, o2, o3) = out(g)
      assert(o1 == pcont(vals, 0.25), s"g=$g q25")
      assert(o2 == pcont(vals, 0.50), s"g=$g q50")
      assert(o3 == pcont(vals, 0.75), s"g=$g q75")
    }
  }

  test("perGroup's one aggregate == per-probability percentile aggregates") {
    val probs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val df = ((1 to 200).map(i => (Int.box(i % 4), Int.box((i * 37) % 101))) ++
      Seq((Int.box(0), null), (Int.box(5), null), (null, Int.box(7))))
      .toDF("g", "v")
    def name(p: Double) = s"q${(p * 100).round}"
    for (exact <- Seq(true, false)) {
      val perProb = probs.map { p =>
        (if (exact) percentile($"v", lit(p))
         else percentile_approx($"v", lit(p), lit(10000))).as(name(p))
      }
      val want = df.groupBy($"g").agg(perProb.head, perProb.tail: _*)
      val got = Quantiles.perGroup(df, "g", "v", probs, exact = exact)
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
      assert(got.collect().toSet == want.collect().toSet, s"exact=$exact")
    }
  }

  test("HLL approx_count_distinct within its error bound (sketch alternative to q_count_distinct)") {
    val df = (1 to 20000).map(i => i % 1237).toDF("v")
    val approx = df.select(approx_count_distinct($"v", 0.02)).as[Long].head()
    assert(math.abs(approx - 1237) <= 1237 * 0.06,
      s"approx=$approx exact=1237")
  }

  test("approx path (the 100 TB knob) stays within the sketch's rank error") {
    val df = (1 to 10000).map(i => (i % 2, i.toDouble)).toDF("g", "v")
    val exact = Quantiles.perGroup(df, "g", "v", Seq(0.5))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val approx = Quantiles.perGroup(df, "g", "v", Seq(0.5), exact = false,
        approxAccuracy = 100)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // accuracy=100 -> rank error <= n/100; values are 1..10000 so a
    // rank error of n/100 = 50 maps to a value error of ~100
    for (g <- 0 to 1) {
      assert(math.abs(approx(g) - exact(g)) <= 150.0,
        s"g=$g approx=${approx(g)} exact=${exact(g)}")
    }
  }
}

class ClassifySpec extends SparkSpec {
  import spark.implicits._

  test("allOrNothingCategory reproduces integer-division UDF semantics") {
    // the reference UDF oracle (ApplaudoETL.scala:200-211 semantics)
    def refUdf(total: Int, a: Int, b: Int): String =
      if (a / total > 0) "A" else if (b / total > 0) "B" else "other"

    val cases = Seq((4, 4, 0), (4, 0, 4), (4, 2, 2), (1, 1, 0), (3, 3, 3))
    val df = cases.toDF("total", "a", "b")
    val out = df.withColumn("cat",
        Classify.allOrNothingCategory(
          Seq("A" -> col("a"), "B" -> col("b")), col("total"), "other"))
      .as[(Int, Int, Int, String)].collect()
    out.foreach { case (t, a, b, cat) =>
      assert(cat == refUdf(t, a, b), s"($t,$a,$b)")
    }
  }

  test("windowTotal attaches per-key sum to every row") {
    val df = Seq(("u1", 1), ("u1", 2), ("u2", 5)).toDF("k", "v")
    val out = Classify.windowTotal(df, "k", "v", "total")
      .select("k", "total").as[(String, Long)].collect().toSet
    assert(out == Set(("u1", 3L), ("u2", 5L)))
  }
}

class QueriesSpec extends SparkSpec {
  test("entry returns rows on sf0.001") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle and runs on sf0.001") {
    val qs = graft.SparkEntry.queries
    val os = graft.SparkEntry.oracleSql
    assert(os.keySet.subsetOf(qs.keySet))
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty, name)
      df.count() // must execute
    }
  }

  test("broadcast join plan actually broadcasts the dim side") {
    val plan = graft.Queries.joinBroadcastLeft(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }
}
