package graft

import org.apache.spark.sql.functions._
import graft.stats.Sampling

/** Deterministic sampling: reproducible membership, exact quotas under
  * skew, and the rare-undershoot fallback. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  // SQL-reproducible multiplicative hash on a numeric id, range [0, 2^32)
  private def mhash(c: org.apache.spark.sql.Column) =
    pmod(c * lit(2654435761L), lit(4294967296L))

  test("rateSample: deterministic, partitioning-independent membership at the exact threshold") {
    val df = (1L to 20000L).map(i => (i, s"d$i")).toDF("id", "v")
    val got = Sampling.rateSample(df, mhash(col("id")), 0.25)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // recompute membership independently: h < floor(0.25 * 2^32)
    val expected = (1L to 20000L).filter { i =>
      java.lang.Math.floorMod(i * 2654435761L, 4294967296L) < 1073741824L
    }
    assert(got == expected)
    // repartitioning cannot change the sample (the RNG-based sample does)
    val re = Sampling.rateSample(df.repartition(7), mhash(col("id")), 0.25)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(re == got)
    assert(math.abs(got.size / 20000.0 - 0.25) < 0.02, s"uniform hash should land near the rate, got ${got.size}")
  }

  test("quotaSample: exact per-stratum quotas under skew, equal to the brute-force window") {
    // one giant stratum, two small, one below quota
    val rows = (1L to 5000L).map(i => (i, "en")) ++
      (10001L to 10200L).map(i => (i, "fr")) ++
      (20001L to 20040L).map(i => (i, "de")) ++
      (30001L to 30003L).map(i => (i, "xx")) // 3 rows < quota
    val df = rows.toDF("id", "lang")
    val got = Sampling.quotaSample(df, col("lang"), mhash(col("id")), col("id"), quota = 25)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(mhash(col("id")), col("id"))
    val brute = df.withColumn("_rk", row_number().over(w)).filter(col("_rk") <= 25)
      .select("id", "lang").collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == brute)
    val perLang = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perLang == Map("en" -> 25, "fr" -> 25, "de" -> 25, "xx" -> 3))
  }

  test("quotaSample: undershoot fallback — a stratum whose hashes all land above the pre-filter") {
    // adversarial stratum: every hash in the top of the range, so the
    // 2x-quota threshold keeps nothing and the stratum must re-enter whole
    val high = (0L until 100L).map(i => (i, 4294967295L - i, "bad"))
    val normal = (1000L to 1999L).map(i => (i, java.lang.Math.floorMod(i * 2654435761L, 4294967296L), "ok"))
    val df = (high ++ normal).toDF("id", "h", "lang")
    val got = Sampling.quotaSample(df, col("lang"), col("h"), col("id"), quota = 10)
      .collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("id"))
    val brute = df.withColumn("_rk", row_number().over(w)).filter(col("_rk") <= 10)
      .select("id", "lang").collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == brute)
    assert(got.count(_._2 == "bad") == 10, "the adversarial stratum still fills its quota exactly")
  }

  test("quotaSample: NULL stratum is a real partition, not silently dropped") {
    // real curation strata go null (missing lang); the null-safe struct key
    // must carry them through every join like the brute-force window does
    val rows = (1L to 200L).map(i => (i, if (i % 3 == 0) null else "en"))
    val df = rows.toDF("id", "lang")
    val got = Sampling.quotaSample(df, col("lang"), mhash(col("id")), col("id"), quota = 15)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).sorted.toSeq
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(mhash(col("id")), col("id"))
    val brute = df.withColumn("_rk", row_number().over(w)).filter(col("_rk") <= 15)
      .select("id", "lang").collect().map(r => (r.getLong(0), Option(r.getString(1)))).sorted.toSeq
    assert(got == brute)
    assert(got.count(_._2.isEmpty) == 15, "the null stratum fills its own quota")
  }

  test("mixtureSample: per-stratum whitelist rates, rate-1 keeps all, rate-0 and unlisted/null drop") {
    val df = (1L to 8000L).map { i =>
      val lang = (i % 5) match {
        case 0 => "en"; case 1 => "de"; case 2 => "fr"; case 3 => "zh"
        case _ => null
      }
      (i, lang)
    }.toDF("id", "lang")
    val rates = Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25, "zh" -> 0.0)
    val got = Sampling.mixtureSample(df.repartition(9), col("lang"), mhash(col("id")), rates)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val expected = (1L to 8000L).flatMap { i =>
      val lang = (i % 5) match {
        case 0 => "en"; case 1 => "de"; case 2 => "fr"; case 3 => "zh"
        case _ => null
      }
      val h = i * 2654435761L % 4294967296L
      Option(lang).flatMap(l => rates.get(l))
        .filter(r => h < (r * 4294967296.0).toLong).map(_ => (i, lang))
    }.sorted.toSeq
    assert(got == expected)
    val byLang = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byLang("de") == 1600, "rate 1.0 keeps the whole stratum")
    assert(!byLang.contains("zh") && !byLang.contains(null), "rate 0 and null stratum drop")
    // partitioning independence
    val again = Sampling.mixtureSample(df.repartition(2), col("lang"), mhash(col("id")), rates)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(again == expected)
  }

  test("temperatureSample: rates derived from counts, smallest stratum kept whole, IEEE-reproducible") {
    // en 400, fr 100, de 25 -> rates 0.25, 0.5, 1.0 (sqrt(nmin/n))
    val rows = (1L to 400L).map(i => (i, "en")) ++
      (1001L to 1100L).map(i => (i, "fr")) ++
      (2001L to 2025L).map(i => (i, "de")) ++
      Seq((3001L, null.asInstanceOf[String]))
    val df = rows.toDF("id", "lang")
    val got = Sampling.temperatureSample(df.repartition(7), col("lang"), mhash(col("id")))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    // membership recomputed independently with the same correctly-rounded ops
    val expected = rows.flatMap { case (i, lang) =>
      Option(lang).map { l =>
        val n = l match { case "en" => 400L; case "fr" => 100L; case "de" => 25L }
        (i, l, (math.sqrt(25.0 / n) * 4294967296.0).toLong)
      }.filter { case (_, _, th) => java.lang.Math.floorMod(i * 2654435761L, 4294967296L) < th }
        .map { case (i2, l, _) => (i2, l) }
    }.sorted.toSeq
    assert(got == expected)
    assert(got.count(_._2 == "de") == 25, "rarest stratum rides whole (rate exactly 1.0)")
    assert(!got.exists(_._2 == null), "null stratum dropped")
    // effective counts trend toward sqrt(nmin*n): en ~ 100, fr ~ 50
    assert(math.abs(got.count(_._2 == "en") - 100) < 30)
    assert(math.abs(got.count(_._2 == "fr") - 50) < 20)
  }

  test("upsample: floor(w) copies + hash-selected fractional epoch; unlisted/null strata drop") {
    // a->1.5: h below 2^31 gets a 2nd copy; b->0.5: membership only below
    // 2^31; c unlisted and null stratum always drop
    val rows = Seq(
      (1L, "a", 0L), (2L, "a", 3000000000L),
      (3L, "b", 0L), (4L, "b", 2200000000L),
      (5L, "c", 0L), (6L, null.asInstanceOf[String], 0L)
    ).toDF("id", "st", "h")
    val got = Sampling.upsample(rows, col("st"), col("h"), Map("a" -> 1.5, "b" -> 0.5))
      .select("id", "epoch").orderBy("id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 0L), (1L, 1L), (2L, 0L), (3L, 0L)))
  }

  test("hashSplit: total assignment, exact hash-range boundaries, last split absorbs rounding") {
    // hash = the id itself on [0, 10000): boundaries land exactly at
    // floor(0.8*10000)=8000 and floor((0.8+0.1)*10000)=9000
    val df = (0L until 10000L).map(i => Tuple1(i)).toDF("id")
    val got = Sampling
      .hashSplit(df, col("id"), Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1), hashMax = 10000L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 10000)
    assert(got(0L) == "train" && got(7999L) == "train")
    assert(got(8000L) == "validation" && got(8999L) == "validation")
    assert(got(9000L) == "test" && got(9999L) == "test")
    assert(got.values.count(_ == "train") == 8000)
    assert(got.values.count(_ == "validation") == 1000)
    assert(got.values.count(_ == "test") == 1000)
    // repartitioning cannot move a row across splits
    val re = Sampling
      .hashSplit(df.repartition(7), col("id"), Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1), hashMax = 10000L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(re == got)
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(df, col("id"), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("leakageSafeSplit: near-dup clusters never straddle splits; per-doc hashSplit provably leaks on the same graph") {
    // 3000 docs; every consecutive triple (3k, 3k+1, 3k+2) is a near-dup
    // chain — 1000 clusters of 3 covering the whole corpus
    val docs = (0L until 3000L).map(Tuple1(_)).toDF("doc_id")
    val chain = (0L until 3000L by 3).flatMap(a => Seq((a, a + 1), (a + 1, a + 2)))
    val pairs = chain.toDF("id_a", "id_b")
    val splits = Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1)
    val got = Sampling
      .leakageSafeSplit(docs.repartition(7), col("doc_id"), pairs, col("id_a"), col("id_b"),
        splits, c => mhash(c))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got.length == 3000)
    val byComp = got.groupBy(_._2)
    assert(byComp.size == 1000)
    byComp.foreach { case (comp, ms) =>
      assert(ms.length == 3, s"cluster $comp should have 3 members")
      assert(ms.map(_._1).min == comp, s"canonical id must be the min member")
      assert(ms.map(_._3).distinct.length == 1, s"cluster $comp straddles splits: $ms")
    }
    // zero leaked near-dup pairs, by construction
    val splitOf = got.map(t => t._1 -> t._3).toMap
    assert(chain.count { case (a, b) => splitOf(a) != splitOf(b) } == 0)
    // the contrast: the SAME corpus split per-doc leaks across pairs
    val plain = Sampling.hashSplit(docs, mhash(col("doc_id")), splits)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(chain.count { case (a, b) => plain(a) != plain(b) } > 0,
      "fixture must demonstrate the per-doc leakage failure mode")
  }

  test("Packing.assignBins: exact prefix-sum bins, partitioning-independent, no global window") {
    import graft.stats.Packing
    val n = 5000L
    // deterministic pseudo-random weights 1..99
    val df = (1L to n).map(i => (i, (i * 2654435761L % 97L + 1L))).toDF("id", "w")
    val got = Packing.assignBins(df.repartition(13), col("id"), col("id"), col("w"), budget = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // brute-force exclusive prefix sum on the driver
    var run = 0L
    val expected = (1L to n).map { i =>
      val w = i * 2654435761L % 97L + 1L
      val bin = run / 1000L
      run += w
      (i, bin)
    }
    assert(got == expected)
    // a different input partitioning must not change a single assignment
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val again = try {
      Packing.assignBins(df.repartition(3), col("id"), col("id"), col("w"), budget = 1000L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert(again == expected)
  }

  test("TextOps.splitOversized: consecutive budget-token chunks, lossless rejoin, null-safe") {
    import graft.text.TextOps
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),          // 10 tokens → 4 chunks @3
      (2L, "  a   b  "),                                       // messy whitespace, 2 tokens
      (3L, "solo"),                                            // 1 token → 1 chunk
      (4L, null.asInstanceOf[String])                          // null → no rows
    ).toDF("doc_id", "text")
    val got = TextOps.splitOversized(docs, col("text"), col("doc_id"), budget = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq(
      (1L, 0L, "w1 w2 w3"), (1L, 1L, "w4 w5 w6"), (1L, 2L, "w7 w8 w9"), (1L, 3L, "w10"),
      (2L, 0L, "a b"), (3L, 0L, "solo")))
    // every chunk but a doc's last carries exactly `budget` tokens, and
    // rejoining a doc's chunks in order reproduces its normalized text
    val byDoc = got.groupBy(_._1)
    byDoc.foreach { case (_, cs) =>
      cs.init.foreach(c => assert(c._3.split(" ").length == 3))
    }
    assert(byDoc(1L).map(_._3).mkString(" ") == (1 to 10).map(i => s"w$i").mkString(" "))
  }

  test("Packing.packedSequences: bins materialize to in-order concatenations with exact totals") {
    import graft.stats.Packing
    import graft.text.TextOps
    // deterministic token counts 1..9 per doc
    val docs = (1L to 200L).map { i =>
      val n = (i * 2654435761L % 9L + 1L).toInt
      (i, (1 to n).map(k => s"d${i}t$k").mkString(" "))
    }.toDF("doc_id", "text")
    val got = Packing.packedSequences(docs.repartition(11), col("text"), col("doc_id"),
        col("doc_id"), TextOps.tokenCount(col("text")), budget = 25L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // brute-force on the driver: exclusive prefix sum → bin → ordered concat
    var run = 0L
    val assigned = (1L to 200L).map { i =>
      val n = i * 2654435761L % 9L + 1L
      val bin = run / 25L
      run += n
      (bin, i, (1 to n.toInt).map(k => s"d${i}t$k").mkString(" "), n)
    }
    val expected = assigned.groupBy(_._1).toSeq.sortBy(_._1).map { case (bin, xs) =>
      val inOrder = xs.sortBy(_._2)
      (bin, inOrder.map(_._3).mkString(" "), inOrder.size.toLong, inOrder.map(_._4).sum)
    }
    assert(got == expected)
    // every bin except possibly the last holds >= budget tokens only via its
    // final doc's overshoot: total minus last doc's weight stays under budget
    expected.foreach { case (_, _, _, tot) => assert(tot >= 1L) }
    assigned.groupBy(_._1).foreach { case (_, xs) =>
      val inOrder = xs.sortBy(_._2)
      assert(inOrder.init.map(_._4).sum < 25L, "bin exceeds budget before its last member")
    }
  }
}
