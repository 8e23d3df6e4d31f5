package graft

import graft.clean.CleanData
import graft.core.{CategoryInfo, Cols, GraftFrame, Sanitize}
import graft.encode.EncodeData
import graft.na.WrangleNa
import graft.transform.GelmanStandardize
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5): sanitize idempotence, cc/fi
  * postconditions, standardization moments. ScalaCheck generators driven
  * directly (fixed seed → reproducible cases).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("sanitize is idempotent and produces lowercase no-space names") {
    samples(Gen.asciiPrintableStr, 200).foreach { s =>
      val once = Sanitize.cleanText(s)
      assert(Sanitize.cleanText(once) == once)
      assert(once == once.toLowerCase)
      assert(!once.contains(" "))
    }
  }

  test("cc output has no nulls and is a row-subset") {
    samples(Gen.listOfN(40, Gen.option(Gen.choose(-100.0, 100.0))), 5).foreach { xs =>
      val df  = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("row_id", "x")
      val out = WrangleNa.cc(GraftFrame(df)).df
      assert(out.where(col("x").isNull).count() == 0)
      assert(out.count() == xs.count(_.isDefined))
    }
  }

  test("fi output has no nulls and leaves observed cells untouched") {
    samples(Gen.listOfN(40, Gen.option(Gen.choose(-100.0, 100.0))), 5)
      .filter(_.exists(_.isDefined))
      .foreach { xs =>
        val df  = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("row_id", "x")
        val out = WrangleNa.fi(GraftFrame(df)).df
        assert(out.where(col("x").isNull).count() == 0)
        val got = out.orderBy("row_id").select("x").as[Double].collect()
        xs.zipWithIndex.foreach {
          case (Some(v), i) => assert(math.abs(got(i) - v) < 1e-12)
          case _            =>
        }
      }
  }

  test("as-of join agrees with a brute-force range-join reference on random data") {
    import org.apache.spark.sql.functions._
    val gen = for {
      key  <- Gen.choose(1L, 4L)
      secs <- Gen.choose(0L, 3600L)
    } yield (key, secs)
    (0 until 3).foreach { round =>
      val leftRows = samples(Gen.listOfN(30, gen), 1)(0).zipWithIndex
        .map { case ((k, s), i) => (k, s, i.toLong) }
      val rightRows = samples(Gen.listOfN(20, gen), 1)(0).zipWithIndex
        .map { case ((k, s), i) => (k, s, 100L + i) }

      val left = leftRows.toDF("lk", "lsecs", "lid")
        .selectExpr("lk", "timestamp_seconds(lsecs) AS lt", "lid")
      val right = rightRows.toDF("rk", "rsecs", "rid")
        .selectExpr("rk", "timestamp_seconds(rsecs) AS rt", "rid")
        // dedupe per (key, time) for a deterministic pick, as documented
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("rk", "rt").orderBy(col("rid").desc)))
        .where(col("rn") === 1).drop("rn")

      val got = graft.rel.AsOfJoin(left, "lk", "lt", right, "rk", "rt")
        .select("lid", "rid").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap

      // brute force: max-time right row with rt <= lt per left row
      val rightLocal = right.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      val want = left.collect().map { r =>
        val (lk, lt, lid) = (r.getLong(0), r.getTimestamp(1), r.getLong(2))
        val cands = rightLocal.filter(x => x._1 == lk && !x._2.after(lt))
        lid -> (if (cands.isEmpty) None else Some(cands.maxBy(x => (x._2.getTime, x._3))._3))
      }.toMap
      assert(got == want, s"round $round diverged")
    }
  }

  test("BoundedCounts equals a groupBy count whenever the cap is not hit (random data)") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val distinct = 1 + rnd.nextInt(40)
      val rows     = 200 + rnd.nextInt(400)
      val df = (1 to rows)
        .map(_ => s"v${rnd.nextInt(distinct)}")
        .toDF("s")
        .repartition(1 + rnd.nextInt(8))
      val bounded = df.agg(graft.functions.BoundedCounts(col("s"), distinct + 1)).collect()(0)
        .getMap[String, Long](0).toMap
      val exact = df.groupBy("s").count().as[(String, Long)].collect().toMap
      assert(bounded == exact, s"trial $trial: bounded counts diverged below the cap")
    }
  }

  test("factorWrangler dummy-detect matches direct computation on random frames") {
    import graft.core.GraftFrame
    import org.apache.spark.sql.types.BooleanType
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      // 3 numeric columns, each drawing from a random small value set —
      // some sets sum to 1 (dummy: {0,1}, {1}, {2,-1}), some don't
      val pools = IndexedSeq(
        IndexedSeq(0.0, 1.0), IndexedSeq(1.0), IndexedSeq(2.0, -1.0),
        IndexedSeq(0.0, 2.0), IndexedSeq(1.0, 3.0), IndexedSeq(0.5, 0.5))
      val chosen = IndexedSeq.fill(3)(pools(rnd.nextInt(pools.length)))
      val rows = (1 to 100).map { _ =>
        (chosen(0)(rnd.nextInt(chosen(0).size)),
         chosen(1)(rnd.nextInt(chosen(1).size)),
         chosen(2)(rnd.nextInt(chosen(2).size)))
      }
      val df  = rows.toDF("c0", "c1", "c2")
      val out = graft.clean.CleanData.factorWrangler(GraftFrame(df), dummyToBool = true).df
      (0 to 2).foreach { i =>
        // reference heuristic: sum of the OBSERVED distinct values == 1
        val expectBool = rows.map(r => IndexedSeq(r._1, r._2, r._3)(i)).distinct.sum == 1.0
        val isBool     = out.schema(s"c$i").dataType == BooleanType
        assert(isBool == expectBool,
          s"trial $trial col c$i: observed=${rows.map(r => IndexedSeq(r._1, r._2, r._3)(i)).distinct.sorted}")
      }
    }
  }

  test("factorWrangler gate boundary: exactly maxCategories kept, one more gated") {
    import graft.core.GraftFrame
    val atCap = (1 to 100).map(i => s"v${i % 10}").toDF("s") // 10 distinct
    val kept  = graft.clean.CleanData.factorWrangler(GraftFrame(atCap), maxCategories = 10)
    assert(kept.cats.get("s").exists(_.categories.size == 10))
    val overCap = (1 to 100).map(i => s"v${i % 11}").toDF("s") // 11 distinct
    val gated   = graft.clean.CleanData.factorWrangler(GraftFrame(overCap), maxCategories = 10)
    assert(!gated.cats.contains("s"))
  }

  /** Random frames for the clean → encode → fi parity checks: every column
    * draws from a pool of edge values (numeric strings that collapse when
    * parsed, mixed-case booleans, ±0.0, NaN, ±Infinity, integral doubles
    * above 2^53, an NA sentinel, all-null columns); `wide` adds two string
    * columns above the default maxCategories.
    */
  private val framePools: Seq[(String, DataType, IndexedSeq[Any])] = Seq(
    ("Num Str", StringType, IndexedSeq("1", "1.0", "01", "2", "-0", "0", " 3", "1e2", null)),
    ("Flag", StringType, IndexedSeq("TRUE", "false", "True", "FALSE", null)),
    ("Grade", StringType, IndexedSeq("a", "b", "c", "d", "NA", null)),
    ("Mixed", StringType, IndexedSeq("10", "9", "x", "b", null)),
    ("Real", DoubleType, IndexedSeq(0.0, -0.0, 1.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 2.5, -3.5, -999.0, null)),
    ("Whole", DoubleType, IndexedSeq(1.0, 2.0, -3.0, 4.0, -0.0, -999.0, null)),
    ("Big", DoubleType, IndexedSeq(9.007199254740994e15, 1.0, null)),
    ("Dummy", DoubleType, IndexedSeq(0.0, 1.0, null)),
    ("Count", LongType, IndexedSeq(1L, 2L, 3L, -5L, 7L, null)),
    ("Empty S", StringType, IndexedSeq(null)),
    ("Empty D", DoubleType, IndexedSeq(null)))

  private def randomFrame(seed: Long, rows: Int, wide: Boolean): DataFrame = {
    val rnd  = new scala.util.Random(seed)
    val data = (0 until rows).map { i =>
      val drawn = framePools.map { case (_, _, pool) => pool(rnd.nextInt(pool.size)) }
      Row.fromSeq(if (wide) drawn ++ Seq(i.toString, s"t$i") else drawn)
    }
    val fields = framePools.map { case (n, dt, _) => StructField(n, dt) } ++
      (if (wide) Seq(StructField("Id Str", StringType), StructField("Text", StringType)) else Nil)
    spark.createDataFrame(java.util.Arrays.asList(data: _*), StructType(fields))
  }

  /** CleanData as it ran before the profile: one row-level aggregate per
    * decision (parse counts, fractional flags, each column's distinct set).
    */
  private def cleanOracle(
      df: DataFrame,
      naValues: Seq[Any],
      orderedCols: Seq[String],
      categories: Map[String, Seq[String]]): GraftFrame = {
    def typed(d: DataFrame, dt: DataType) = d.schema.fields.collect { case f if f.dataType == dt => f.name }.toSeq
    val nulled = CleanData.replaceNa(df, naValues)
    val strs   = typed(nulled, StringType)
    val checks = nulled.agg(count(lit(1)), strs.flatMap(c => Seq(
      count(Cols.q(c)),
      count(Cols.q(c).try_cast(DoubleType)),
      count(when(lower(Cols.q(c)).isin("true", "false"), lit(1))))): _*).head()
    val parsed = nulled.select(nulled.columns.toSeq.map { c =>
      val i = strs.indexOf(c)
      val cnt = if (i < 0) 0L else checks.getLong(1 + 3 * i)
      if (cnt > 0 && checks.getLong(2 + 3 * i) == cnt) Cols.q(c).cast(DoubleType).as(c)
      else if (cnt > 0 && checks.getLong(3 + 3 * i) == cnt) Cols.q(c).cast(BooleanType).as(c)
      else Cols.q(c)
    }: _*)
    val dbls = typed(parsed, DoubleType)
    val fracs = parsed.agg(count(lit(1)), dbls.flatMap(c => Seq(
      max(when(Cols.q(c) =!= floor(Cols.q(c)) || abs(Cols.q(c)) > lit(9.007199254740992e15), lit(1))
        .otherwise(lit(0))),
      count(Cols.q(c)))): _*).head()
    val converted = parsed.select(parsed.columns.toSeq.map { c =>
      val i = dbls.indexOf(c)
      if (i >= 0 && fracs.getInt(1 + 2 * i) == 0 && fracs.getLong(2 + 2 * i) > 0) Cols.q(c).cast(LongType).as(c)
      else Cols.q(c)
    }: _*)
    val staged  = Sanitize.columnWrangler(converted)
    val numeric = staged.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq
    val strCols = typed(staged, StringType)
    // distinct sets as a groupBy sees them (-0.0 is 0.0, NaN is one value),
    // capped at maxCategories + 1 like the old bounded collect
    val sets = (numeric ++ strCols.filterNot(categories.contains)).map { c =>
      c -> staged.select(Cols.q(c)).where(Cols.q(c).isNotNull).distinct().limit(10001)
        .collect().map(_.get(0)).toSeq
    }.filter(_._2.size < 10001).toMap
    val boolCols = numeric.filter { c =>
      val vs = sets.getOrElse(c, Nil).map(_.asInstanceOf[Number].doubleValue()).filterNot(_.isNaN).sorted
      vs.nonEmpty && vs.sum == 1.0
    }.toSet
    var out = staged.select(staged.columns.toSeq.map { c =>
      if (boolCols(c)) Cols.q(c).cast(BooleanType).as(c) else Cols.q(c)
    }: _*)
    var cats = Map.empty[String, CategoryInfo]
    strCols.foreach { c =>
      categories.get(c) match {
        case Some(cs) =>
          cats += c -> CategoryInfo(cs, ordered = false)
          out = out.withColumn(c, when(Cols.q(c).isin(cs: _*), Cols.q(c)).otherwise(lit(null).cast(StringType)))
        case None if sets.contains(c) =>
          cats += c -> CategoryInfo(sets(c).map(String.valueOf).sorted, ordered = false)
        case None =>
      }
    }
    orderedCols.foreach(c => cats.get(c).foreach(info => cats += c -> info.copy(ordered = true)))
    GraftFrame(out, cats)
  }

  private def assertSameFrame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema\n got: ${got.schema}\n want: ${want.schema}")
    assert(got.count() == want.count(), s"$what: row count")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"$what: rows differ")
  }

  test("one-pass CleanData equals the row-level aggregates on random edge-value frames") {
    val categories = Map("grade" -> Seq("b", "a", "z")) // "c", "d" fall outside the list
    Seq((1L, 60, false), (2L, 150, false), (3L, 7, false), (4L, 10050, true)).foreach {
      case (seed, rows, wide) =>
        val df      = randomFrame(seed, rows, wide)
        val ordered = if (seed % 2 == 0) Seq("Grade") else Nil
        val got  = CleanData(df, naValues = Seq("NA", -999.0), orderedCols = ordered, categories = categories)
        val want = cleanOracle(df, Seq("NA", -999.0), Sanitize.sanitizeColNames(ordered).getOrElse(Nil), categories)
        assert(got.cats == want.cats, s"seed $seed: cats")
        assertSameFrame(got.df, want.df, s"seed $seed")
        if (wide) {
          assert(got.df.schema("id_str").dataType == LongType, "the above-cap numeric strings parse")
          assert(got.df.schema("text").dataType == StringType && !got.cats.contains("text"),
            "the above-cap free text stays an untyped string")
        }
    }
  }

  test("the profile CleanData and EncodeData attach describes their output frame") {
    Seq(1L -> randomFrame(1L, 60, wide = false), 2L -> randomFrame(2L, 150, wide = false),
      4L -> randomFrame(4L, 10050, wide = true)).foreach { case (seed, df) =>
      val cleaned = CleanData(df, naValues = Seq("NA", -999.0), orderedCols = if (seed == 2L) Seq("Grade") else Nil,
        categories = if (seed == 1L) Map("grade" -> Seq("b", "a", "z")) else Map.empty)
      Seq("cleaned" -> cleaned, "encoded" -> EncodeData(cleaned)).foreach { case (stage, gf) =>
        val p = gf.profile.getOrElse(fail(s"seed $seed: $stage frame lost its profile"))
        assert(p.rows == gf.df.count(), s"seed $seed $stage: rows")
        p.cols.foreach { case (c, cp) =>
          val what = s"seed $seed $stage column $c"
          assert(cp.nonNull == gf.df.where(Cols.q(c).isNotNull).count(), s"$what: nonNull")
          cp.sum.foreach { v =>
            val want = gf.df.agg(sum(Cols.q(c))).head().getDouble(0)
            assert(v.equals(want), s"$what: sum $v vs $want")
          }
          p.exact(c).foreach { m =>
            val want = gf.df.where(Cols.q(c).isNotNull).groupBy(Cols.q(c)).count().collect()
              .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
            assert(m.map { case (v, n) => String.valueOf(v) -> n } == want, s"$what: counts")
          }
        }
      }
    }
  }

  test("fi fed by the profile fills exactly like fi running its own aggregate") {
    val ties = Seq(
      Row(true, "10", -4L, -3L, 0.25),
      Row(false, "9", 1L, -1L, null),
      Row(null, "x", 2L, 6L, -1.5),
      Row(true, "10", 7L, null, 2.0),
      Row(false, "9", null, null, null),
      Row(null, "x", null, null, -0.5),
      Row(null, null, null, null, null))
    val tieFrame = spark.createDataFrame(java.util.Arrays.asList(ties: _*), StructType(Seq(
      StructField("flag", BooleanType), StructField("grade", StringType), StructField("even", LongType),
      StructField("odd", LongType), StructField("real", DoubleType))))
    val frames = Seq(1L -> randomFrame(1L, 60, wide = false), 2L -> randomFrame(2L, 150, wide = false),
      5L -> randomFrame(5L, 10050, wide = true), 9L -> tieFrame)
    frames.foreach { case (seed, df) =>
      val cleaned = CleanData(df, naValues = Seq("NA", -999.0), orderedCols = if (seed == 2L) Seq("Grade") else Nil)
      Seq("cleaned" -> cleaned, "encoded" -> EncodeData(cleaned)).foreach { case (stage, gf) =>
        assert(gf.profile.isDefined, s"seed $seed: $stage frame carries its profile")
        assertSameFrame(WrangleNa.fi(gf).df, WrangleNa.fi(gf.copy(attached = None)).df, s"seed $seed $stage fi")
      }
    }
    // the tie frame's fills, as pandas mode().loc[0] and Spark's exact median give them
    val filled = WrangleNa.fi(CleanData(tieFrame)).df.collect().last
    assert(filled.getAs[Boolean]("flag") == false && filled.getAs[String]("grade") == "9")
    assert(filled.getAs[Double]("even") == 1.5 && filled.getAs[Long]("odd") == -1L)
  }

  test("stratifiedTake draws exactly min(n, |stratum|) rows, deterministically") {
    import graft.llm.Sampling
    val df = (0L until 100L).map(i => (i, s"s${i % 3}")).toDF("id", "src")
    val a  = Sampling.stratifiedTake(df, "id", "src", n = 10).orderBy("src", "sample_rank")
    val b  = Sampling.stratifiedTake(df, "id", "src", n = 10).orderBy("src", "sample_rank")
    val ra = a.collect().map(_.toSeq).toSeq
    assert(ra == b.collect().map(_.toSeq).toSeq) // deterministic
    val perStratum = a.groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perStratum == Map("s0" -> 10L, "s1" -> 10L, "s2" -> 10L))
    // small stratum: takes all of it
    val tiny = Sampling.stratifiedTake(df.where(col("id") < 2), "id", "src", n = 10)
    assert(tiny.count() == 2L)
    // ranks are 1..n within each stratum
    val ranks = a.where(col("src") === "s0").select("sample_rank").as[Int].collect().sorted.toSeq
    assert(ranks == (1 to 10))
  }

  test("multi-query BM25 matches a driver-side reference scorer on random corpora") {
    import graft.llm.Bm25
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val doc  = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    samples(Gen.listOfN(12, doc), 3).zipWithIndex.foreach { case (texts, round) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val queries = texts.take(3).zipWithIndex
        .map { case (t, i) => (100L + i, t.split(" ").take(3).mkString(" ")) }
        .toDF("q_id", "q_text")
      val got = Bm25
        .topKPerQuery(docs, "doc_id", "text", queries, "q_id", "q_text", k = 12)
        .select("q_id", "doc_id", "score")
        .as[(Long, Long, Double)].collect()
        .map { case (q, d, s) => (q, d) -> s }.toMap

      // reference: textbook BM25 recomputed in driver math with the same
      // rounding contract (per-term 6 dp, exact decimal-grain sum)
      val toks  = texts.map(_.split(" ").toSeq)
      val n     = toks.size.toDouble
      val avgdl = toks.map(_.size).sum.toDouble / n
      def score(qTerms: Seq[String], d: Seq[String]): Double = {
        val sum = qTerms.distinct.map { t =>
          val tf = d.count(_ == t).toDouble
          if (tf == 0) 0L
          else {
            val df  = toks.count(_.contains(t)).toDouble
            val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            val c   = idf * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * d.size / avgdl))
            math.rint(c * 1e6).toLong
          }
        }.sum
        sum / 1e6
      }
      val qs = queries.as[(Long, String)].collect()
      for ((qid, qt) <- qs; (d, did) <- toks.zipWithIndex) {
        val want = score(qt.split(" ").toSeq, d)
        val have = got.getOrElse((qid, did.toLong), 0.0)
        assert(math.abs(have - want) < 1e-9,
          s"round $round q=$qid doc=$did: engine $have vs reference $want")
      }
    }
  }

  test("LSH rebuild preserves corpus membership and meets sizing on random splits") {
    import graft.llm.AnnBuckets
    val emb = graft.core.Tables(spark, "/root/testdata/sf0.001").embeddings
    for (seedMod <- Seq(2, 3, 5)) {
      val idx = java.nio.file.Files.createTempDirectory(s"lsh_fuzz_$seedMod").toString
      AnnBuckets.writeBucketsGen(
        emb.where(col("vec_id") % seedMod === 0), "vec_id", "embedding", idx)
      AnnBuckets.appendToBuckets(
        idx, emb.where(col("vec_id") % seedMod =!= 0), "vec_id", "embedding", srcBatch = 1L)
      val m = AnnBuckets.rebuildBucketsGen(idx, spark, targetBucketRows = 16)
      val rows = spark.read.parquet(s"$idx/buckets")
      // membership: every vector exactly once per table, no strays
      assert(rows.count() == emb.count() * m.nTables)
      assert(rows.select(col("vec_id").cast("long")).distinct().count() == emb.count())
      // sizing: the rebuilt index meets its own trigger's target
      assert(!AnnBuckets.rebuildDue(
        AnnBuckets.bucketOccupancy(idx, spark), targetBucketRows = 16, slack = 2.0))
      // stamp halves agree after the swap
      assert(AnnBuckets.readGeomMarker(s"$idx/buckets", spark) == m.geomId)
    }
  }

  test("gelman standardization yields mean ≈ 0 and sample sd ≈ 0.5") {
    samples(Gen.listOfN(50, Gen.choose(-1000.0, 1000.0)), 5)
      .filter(_.distinct.size > 1)
      .foreach { xs =>
        val out = GelmanStandardize(GraftFrame(xs.toDF("x"))).df
        val r   = out.agg(avg("x"), stddev_samp("x")).collect()(0)
        assert(math.abs(r.getDouble(0)) < 1e-9)
        assert(math.abs(r.getDouble(1) - 0.5) < 1e-9)
      }
  }
}
