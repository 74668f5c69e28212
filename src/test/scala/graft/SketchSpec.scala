package graft

import org.apache.spark.sql.functions._
import graft.exprs.SketchAgg
import graft.stats.SketchDrift

/** KLL quantile-sketch aggregate (custom TypedImperativeAggregate) and
  * sketch-based KS/PSI drift. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("kll sketch: one-pass quantiles within rank error, mergeable across partitions") {
    val df = (1 to 100000).map(_.toDouble).toDF("x").repartition(8)
    val sk = SketchDrift.sketch(df, col("x"))
    assert(sk.getN == 100000)
    // KLL k=200 normalized rank error < 1%
    assert(math.abs(sk.getQuantile(0.5) - 50000) < 2000)
    assert(math.abs(sk.getQuantile(0.9) - 90000) < 2000)
  }

  test("kll sketch: max normalized rank error at 99 quantiles within the k=200 bound (duplicates, 8 partitions)") {
    import org.apache.datasketches.kll.KllSketch
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE
    // 10^5 values over 20,000 distinct ones, plus a 5% atom, dealt to 8
    // partitions in a seeded shuffle
    val r = new scala.util.Random(36)
    val values = r.shuffle((1 to 100000).map(i => if (i % 20 == 0) 4242.0 else r.nextInt(20000).toDouble))
    val sk = SketchDrift.sketch(values.toDF("x").repartition(8), col("x"))
    val sorted = values.toArray.sorted
    val n = sorted.length
    // inclusive exact rank: the share of values <= x
    def exactRank(x: Double): Double = {
      var lo = 0; var hi = n
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (sorted(mid) <= x) lo = mid + 1 else hi = mid }
      lo.toDouble / n
    }
    val errors = (1 to 99).map { q =>
      val x = sorted(math.ceil(q * n / 100.0).toInt - 1) // the exact q-th percentile
      math.abs(sk.getRank(x, INCLUSIVE) - exactRank(x))
    }
    val bound = KllSketch.getNormalizedRankError(200, false)
    info(f"max normalized rank error ${errors.max}%.5f, bound $bound%.5f")
    assert(sk.getN == n)
    assert(errors.max <= bound, s"max normalized rank error ${errors.max} above the k=200 bound $bound")
  }

  test("serialized sketch round-trips (the persisted baseline snapshot)") {
    val df = (1 to 1000).map(_.toDouble).toDF("x")
    val bytes = df.agg(SketchAgg.kll(col("x"))).head().getAs[Array[Byte]](0)
    val sk = SketchAgg.deserialize(bytes)
    assert(sk.getN == 1000)
    // merging a restored snapshot with a fresh sketch works (cross-run merge)
    val sk2 = SketchDrift.sketch((1001 to 2000).map(_.toDouble).toDF("x"), col("x"))
    sk.merge(sk2)
    assert(sk.getN == 2000)
  }

  test("sketch drift: identical ~ zero, shifted ~ large; agrees with histogram drift") {
    val a = (1 to 20000).map(i => (i % 1000).toDouble).toDF("x")
    val b = (1 to 20000).map(i => (i % 1000).toDouble).toDF("x")
    val c = (1 to 20000).map(i => (i % 1000).toDouble + 500).toDF("x")
    val (psiSame, ksSame) = SketchDrift.detect(a, b, col("x"))
    val (psiShift, ksShift) = SketchDrift.detect(a, c, col("x"))
    // same-distribution bound leaves headroom for KLL merge-order noise
    // (sketches are rebuilt per run; 1000 atoms × rank error ≈ up to ~0.01
    // PSI on a bad draw) while staying 10× under the shifted bound
    assert(psiSame < 0.05 && ksSame < 0.03, s"psiSame=$psiSame ksSame=$ksSame")
    assert(psiShift > 0.5 && ksShift > 0.2)
  }

  test("snapshot store: write once, drift later runs never re-read the baseline data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString + "/snap"
    val base = (1 to 20000).map(i => (i.toDouble % 100, i.toDouble)).toDF("a", "b")
    SketchDrift.writeSnapshot(base, Seq("a", "b"), dir)
    val loaded = SketchDrift.readSnapshot(spark, dir)
    assert(loaded.keySet == Set("a", "b") && loaded("b").getN == 20000)
    // same distribution -> small drift on every column (not exactly zero:
    // KLL merge order is nondeterministic, and column a's 100 atoms put
    // decile edges on atoms — rank noise can swing an atom between buckets)
    val same = SketchDrift.driftAgainstSnapshot(base, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(same.forall { case (_, psi, ks) => psi < 0.15 && ks < 0.05 }, same.toString)
    // column b shifted -> large drift there, a (comparatively) unmoved
    val shifted = base.select(col("a"), (col("b") + 50000).as("b"))
    val drift = SketchDrift.driftAgainstSnapshot(shifted, dir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(drift("a")._1 < 0.1 && drift("b")._1 > 1.0 && drift("b")._2 > 0.5, drift.toString)
  }

  test("frequent-items sketch: exact heavy hitters under skew, merged across partitions") {
    import graft.stats.ColumnStats
    // zipf-ish skew: value v appears ~ n/(v+1) times; 50 distinct values
    val rows = (0 until 50).flatMap(v => Seq.fill(2000 / (v + 1))(s"item_$v"))
    val df = spark.sparkContext.parallelize(rows, 16).toDF("s") // 16 partitions -> real merges
    val got = ColumnStats.heavyHitters(df, col("s"), k = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (item, c) => (-c, item) }.take(8)
    assert(got == exact)
    // nulls are skipped
    val withNulls = (rows.map(Option(_)) ++ Seq.fill(100)(None)).toDF("s")
    val got2 = ColumnStats.heavyHitters(withNulls, col("s"), k = 1).collect()
    assert(got2.head.getString(0) == "item_0" && got2.head.getLong(1) == 2000L)
  }

  test("inferTypes: dominant-type inference with priority int > num > date > bool > string") {
    import spark.implicits._
    val df = Seq(
      ("1", "1.5", "2024-01-02", "true", "abc", null: String, ""),
      ("-7", "2", "1999-12-31", "False", "1", null: String, ""),
      ("+42", "3e4", "2000-06-15", "TRUE", "", null: String, "x")
    ).toDF("ints", "nums", "dates", "bools", "mixed", "allnull", "mostlyempty")
    val byName = graft.stats.ColumnStats
      .inferTypes(df, Seq("ints", "nums", "dates", "bools", "mixed", "allnull", "mostlyempty"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getString(6)))).toMap
    assert(byName("ints") == (3L, "integer"))
    assert(byName("nums") == (3L, "number")) // "2" is int but "1.5"/"3e4" are not → number wins
    assert(byName("dates") == (3L, "date"))
    assert(byName("bools") == (3L, "boolean")) // case-insensitive lexical space
    assert(byName("mixed") == (2L, "string")) // "abc" breaks every type; "" not counted
    assert(byName("allnull") == (0L, "empty"))
    assert(byName("mostlyempty") == (1L, "string"))
  }

  test("ksExact: integer KS numerator matches the hand-computed ECDF max, partitioning-independent") {
    import graft.stats.Drift
    // a=[1,2,3], b=[2,3,4,4]: max|F1-F2| = 0.5 at v=3 -> ks_num = 6 over n1*n2 = 12
    val a = Seq(1.0, 2.0, 3.0).toDF("x")
    val b = Seq(2.0, 3.0, 4.0, 4.0).toDF("x")
    val r = Drift.ksExact(a, col("x"), b, col("x")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((6L, 3L, 4L)))
    // identical samples -> zero
    val z = Drift.ksExact(a, col("x"), a, col("x")).collect()(0)
    assert(z.getLong(0) == 0L)
    // partitioning cannot change the statistic (two-phase scan, not a
    // single-partition window)
    val big1 = (1 to 20000).map(i => (i % 977).toDouble).toDF("x").repartition(13)
    val big2 = (1 to 30000).map(i => (i % 733).toDouble).toDF("x").repartition(7)
    val r1 = Drift.ksExact(big1, col("x"), big2, col("x")).collect()(0)
    val r2 = Drift.ksExact(big1.repartition(3), col("x"), big2.coalesce(1), col("x")).collect()(0)
    assert(r1.getLong(0) == r2.getLong(0) && r1.getLong(0) > 0)
    // brute-force cross-check of the big pair
    val xs1 = big1.collect().map(_.getDouble(0)).sorted
    val xs2 = big2.collect().map(_.getDouble(0)).sorted
    val grid = (xs1 ++ xs2).distinct.sorted
    val brute = grid.map { v =>
      math.abs(xs1.count(_ <= v).toLong * xs2.length - xs2.count(_ <= v).toLong * xs1.length)
    }.max
    assert(r1.getLong(0) == brute)
  }

  test("ksExactBy: per-group statistic equals per-group ksExact calls; one-sided groups dropped") {
    import graft.stats.Drift
    val a = Seq(("en", 1.0), ("en", 2.0), ("en", 3.0), ("de", 5.0), ("de", 6.0), ("xx", 9.0)).toDF("g", "x")
    val b = Seq(("en", 2.0), ("en", 3.0), ("en", 4.0), ("en", 4.0), ("de", 5.0), ("yy", 1.0)).toDF("g", "x")
    val got = Drift.ksExactBy(a, col("x"), col("g"), b, col("x"), col("g"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    // per-group single calls must agree
    val expected = Seq("de", "en").map { g =>
      val r = Drift.ksExact(
        a.filter(col("g") === g), col("x"), b.filter(col("g") === g), col("x")).collect()(0)
      (g, r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(got == expected)
    assert(!got.exists(r => r._1 == "xx" || r._1 == "yy"), "one-sided groups dropped")
    // en is the hand-checked q96 example: ks_num 6 over 3*4
    assert(got.find(_._1 == "en").get == (("en", 6L, 3L, 4L)))
  }

  test("sketch aggregate composes with groupBy (per-group baselines)") {
    val df = (1 to 10000).map(i => (if (i % 2 == 0) "a" else "b", i.toDouble)).toDF("g", "x")
    val rows = df.groupBy("g").agg(SketchAgg.kll(col("x")).as("sk")).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val sk = SketchAgg.deserialize(r.getAs[Array[Byte]](1))
      assert(sk.getN == 5000)
    }
  }
}
