// (GraftExtensions SQL-registration coverage lives at the bottom of this file)
package graft

import graft.core.{ScaleMode, Stats}
import graft.functions.GraftFunctions.dot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("DotProduct matches a hand-computed dot and handles nulls") {
    val df = Seq(
      (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0, 6.0))),
      (None, Some(Seq(1.0, 1.0, 1.0))))
      .toDF("a", "b")
    val got = df.select(dot(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) == 32.0)
    assert(got(1).isNullAt(0))
  }

  test("NfcNormalize composes decomposed sequences; identity on NFC; null-safe") {
    import graft.functions.NfcNormalize
    val df = Seq(
      Some("Cafe\u0301 pin\u0303a"), // decomposed: e+U+0301, n+U+0303
      Some("Caf\u00e9 pi\u00f1a"),   // already precomposed
      Some("plain ascii"),
      None: Option[String]).toDF("s")
    val got = df.select(NfcNormalize(col("s")).as("n")).collect()
    assert(got(0).getString(0) == "Caf\u00e9 pi\u00f1a")
    assert(got(1).getString(0) == "Caf\u00e9 pi\u00f1a")
    assert(got(2).getString(0) == "plain ascii")
    assert(got(3).isNullAt(0))
    // idempotent over the corpus-shaped inputs
    val twice = df
      .where(col("s").isNotNull)
      .where(NfcNormalize(NfcNormalize(col("s"))) === NfcNormalize(col("s")))
      .count()
    assert(twice == 3)
    // interpreted (non-codegen filter) path agrees with projection codegen
    assert(df.where(NfcNormalize(col("s")) === lit("Caf\u00e9 pi\u00f1a")).count() == 2)
  }

  test("DotProduct interpreted eval agrees with codegen") {
    val df = Seq((Seq(0.5, -1.5, 2.0), Seq(2.0, 4.0, -1.0))).toDF("a", "b")
    val viaCodegen = df.select(dot(col("a"), col("b"))).as[Double].collect().head
    // force interpreted path through a non-codegen context (filter on eval)
    val expected = 0.5 * 2.0 + -1.5 * 4.0 + 2.0 * -1.0
    assert(viaCodegen == expected)
    val viaWhere = df.where(dot(col("a"), col("b")) === lit(expected)).count()
    assert(viaWhere == 1)
  }

  test("FormatHalfEven rejects non-double input at analysis time") {
    import graft.functions.HalfEvenFormat
    val df = Seq(("abc", 1.5)).toDF("s", "d")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(HalfEvenFormat(col("s"), 6)).collect()
    }
    assert(df.select(HalfEvenFormat(col("d"), 2)).as[String].collect().head == "1.50")
  }

  test("ProbitInv (AS241) matches high-precision inverse normal CDF to 1e-12") {
    import graft.functions.{ProbitFunctions, ProbitInv}
    // ground truth: 40-digit mpmath sqrt(2)*erfinv(2p-1), central through
    // deep tail. (commons-math's inverseCumulativeProbability is only ~1e-6
    // accurate below p≈1e-9, so it can't serve as the oracle here.)
    val grid = Seq(
      (1e-12, -7.0344838253011319), (1e-9, -5.9978070150076869),
      (1e-6, -4.753424308822899), (1e-4, -3.7190164854556806),
      (0.001, -3.0902323061678135), (0.01, -2.3263478740408411),
      (0.05, -1.6448536269514727), (0.1, -1.2815515655446004),
      (0.25, -0.67448975019608174), (0.5, 0.0),
      (0.75, 0.67448975019608174), (0.9, 1.2815515655446006),
      (0.95, 1.6448536269514723), (0.99, 2.3263478740408408),
      (0.999, 3.0902323061678133), (0.9999, 3.7190164854557084))
    grid.foreach { case (p, want) =>
      val got = ProbitInv.ppnd16(p)
      assert(math.abs(got - want) <= 1e-12 * math.max(1.0, math.abs(want)),
        s"p=$p: got $got want $want")
    }
    assert(ProbitInv.ppnd16(0.0).isNegInfinity && ProbitInv.ppnd16(1.0).isPosInfinity)
    // codegen path through a projection agrees with the static function
    val ps  = grid.map(_._1)
    val got = ps.toDF("p").select(ProbitFunctions.probitInv(col("p")).as("z"))
      .as[Double].collect().toSeq
    ps.zip(got).foreach { case (p, z) => assert(z == ProbitInv.ppnd16(p)) }
  }

  test("canonical CSV writer is byte-stable across row orderings") {
    import graft.core.CanonicalWriter
    val a = Seq((2L, 2.5, "y"), (1L, 1.0000000001, "x")).toDF("id", "v", "s")
    val b = Seq((1L, 1.0000000001, "x"), (2L, 2.5, "y")).toDF("id", "v", "s")
    val da = java.nio.file.Files.createTempDirectory("canon_a").toString
    val db = java.nio.file.Files.createTempDirectory("canon_b").toString
    CanonicalWriter.writeCsv(a, da)
    CanonicalWriter.writeCsv(b, db)
    def readBytes(dir: String) = {
      val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv")).head
      new String(java.nio.file.Files.readAllBytes(f.toPath))
    }
    val ca = readBytes(da)
    assert(ca == readBytes(db))
    assert(ca.contains("1.000000")) // fixed float format
    assert(ca.linesIterator.next() == "id,v,s")
  }

  test("canonical CSV rounds the EXACT binary value half-even, matching C printf") {
    import graft.core.CanonicalWriter
    val df = Seq(
      // true binary ties (2^-7 multiples): exact value IS the tie → half-even
      (1L, 0.0078125),  // → 0.007812 (2 is even; Java %.6f says 0.007813)
      (2L, 0.0234375),  // → 0.023438 (7 is odd → away)
      (3L, -0.0078125), // sign-symmetric
      (4L, 0.1),        // → 0.100000, not 0.099999…
      // APPARENT ties: decimal text looks like …5 but the exact binary value
      // is below it — C/Python/DuckDB printf round DOWN. Cases 5/6 catch a
      // Java-%.6f-style half-up regression (it says …53/…63); case 7 is the
      // one that discriminates exact-value rounding from shortest-repr
      // half-even (kept digit 1 is odd, so shortest-repr HALF_EVEN would
      // wrongly round to -0.070892 while printf keeps -0.070891)
      (5L, 0.0087525),  // exact = 0.0087524999… → 0.008752
      (6L, 0.0090625),  // exact = 0.0090624999… → 0.009062
      (7L, -0.0708915), // exact = -0.0708914999… → -0.070891
      (8L, -0.0),       // printf keeps the sign: -0.000000
      (9L, -1e-9)       // negative rounding to zero keeps the sign too
    ).toDF("id", "v")
    val d = java.nio.file.Files.createTempDirectory("canon_tie").toString
    CanonicalWriter.writeCsv(df, d)
    val f = new java.io.File(d).listFiles().filter(_.getName.endsWith(".csv")).head
    val s = new String(java.nio.file.Files.readAllBytes(f.toPath))
    assert(s.contains("1,0.007812\n"), s)
    assert(s.contains("2,0.023438\n"), s)
    assert(s.contains("3,-0.007812\n"), s)
    assert(s.contains("4,0.100000\n"), s)
    assert(s.contains("5,0.008752\n"), s)
    assert(s.contains("6,0.009062\n"), s)
    assert(s.contains("7,-0.070891\n"), s)
    assert(s.contains("8,-0.000000\n"), s)
    assert(s.contains("9,-0.000000\n"), s)
  }

  test("BoundedCounts: exact counts below cap, saturates at cap, skips nulls") {
    import graft.functions.BoundedCounts
    // exact value → count map below the cap — across many partitions so merge runs
    val small = (1 to 1000).map(i => Some(s"v${i % 4}")).toDF("s").repartition(8)
    val got = small.agg(BoundedCounts(col("s"), 10).as("m")).collect()(0)
      .getMap[String, Long](0)
    assert(got == Map("v0" -> 250L, "v1" -> 250L, "v2" -> 250L, "v3" -> 250L))
    // saturation: 200 distinct values, cap 11 → result size exactly 11
    val big = (1 to 200).map(i => s"id_$i").toDF("s").repartition(8)
    val sat = big.agg(BoundedCounts(col("s"), 11).as("m")).collect()(0)
      .getMap[String, Long](0)
    assert(sat.size == 11)
    assert(sat.keySet.subsetOf((1 to 200).map(i => s"id_$i").toSet)) // buffered keys are real values
    // nulls are skipped; numeric keys round-trip; -0.0 counts as 0.0 and
    // every NaN is one key, as in a groupBy
    val nums = Seq(Some(1.5), None, Some(2.5), Some(1.5), Some(-0.0), Some(0.0), Some(Double.NaN),
      Some(Double.NaN)).toDF("d").repartition(4)
    val ns = nums.agg(BoundedCounts(col("d"), 10).as("m")).collect()(0)
      .getMap[Double, Long](0).toSeq.map { case (k, n) => (k.toString, n) }.sorted
    assert(ns == Seq("0.0" -> 2L, "1.5" -> 2L, "2.5" -> 1L, "NaN" -> 2L))
  }

  test("Stats mode switch dispatches exact vs approx") {
    val df = (1 to 1000).toDF("x")
    val exact = df.agg(
      Stats.percentile(col("x"), 0.5),
      Stats.distinctCount(col("x"))).collect()(0)
    assert(exact.getDouble(0) == 500.5)
    assert(exact.getLong(1) == 1000L)
    val approx = df.agg(
      Stats.percentile(col("x"), 0.5, ScaleMode.Approx),
      Stats.distinctCount(col("x"), ScaleMode.Approx)).collect()(0)
    assert(math.abs(approx.getInt(0) - 500) <= 5)
    assert(math.abs(approx.getLong(1) - 1000L) <= 50)
  }

  test("GraftExtensions registers dot_product and nfc_normalize as SQL functions") {
    import org.apache.spark.sql.SparkSession
    // a FRESH session on the shared context picks up the extensions conf;
    // getOrCreate would return the default session, so clear it first and
    // restore afterwards (the standard same-JVM extensions-test pattern)
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession
        .builder()
        .master("local[2]")
        // .config("spark.sql.extensions", ...) is a STATIC conf — inert on
        // an already-running context; withExtensions is the same-JVM path
        .withExtensions(new graft.functions.GraftExtensions)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      val got = s
        .sql("SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d, " +
          "nfc_normalize('e\\u0301') AS n") // e + combining acute via SQL \u escape
        .collect()(0)
      assert(got.getDouble(0) == 32.0)
      assert(got.getString(1) == "é", "NFC must compose e + combining acute to é")
      // the SQL path must plan the SAME codegen'd expression, not a UDF
      val plan = s
        .sql("SELECT dot_product(array(1.0d), array(1.0d))")
        .queryExecution.executedPlan.toString
      assert(plan.contains("dotproduct") || plan.contains("DotProduct"),
        s"SQL call did not plan the native expression:\n$plan")
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("Jobs.collectFast never touches the caller session's AQE conf") {
    import java.util.concurrent.atomic.AtomicBoolean
    val key = "spark.sql.adaptive.enabled"
    spark.conf.set(key, "true")
    // a stat plan slow enough that a concurrent observer is guaranteed to
    // sample the conf DURING the collect (the old set/restore
    // implementation held AQE=false on the shared conf for that window)
    val slow = spark
      .range(0, 8, 1, 4)
      .selectExpr("java_method('java.lang.Thread', 'sleep', 150L) AS z", "id")
      .groupBy()
      .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
    val sawFalse = new AtomicBoolean(false)
    val stop     = new AtomicBoolean(false)
    val watcher = new Thread(() => {
      while (!stop.get()) {
        if (spark.conf.get(key, "true") == "false") sawFalse.set(true)
        Thread.sleep(2)
      }
    })
    watcher.start()
    val rows =
      try graft.core.Jobs.collectFast(slow)
      finally { stop.set(true); watcher.join() }
    assert(rows(0).getAs[Long]("n") == 8L && rows(0).getAs[Long]("s") == 28L)
    assert(spark.conf.get(key) == "true", "AQE conf must be restored")
    assert(!sawFalse.get(), "caller session observed a transient AQE-off window")
    // and the stat session's plan really ran without AQE: observed plans
    // fall back in-session, everything else executes on the child — both
    // paths return correct rows (values asserted above); the no-global-
    // mutation property is the contract under test here
  }

  test("Jobs.collectFast honors the caller's runtime session confs") {
    // a runtime `spark.conf.set` made AFTER session start must reach the
    // stat session — a bare newSession() child would snapshot the
    // context-level conf and silently evaluate under the default
    // timezone. Use an isolated caller so the shared test session's
    // timezone is untouched.
    val caller = spark.newSession()
    def hourAgg = caller
      .sql("SELECT hour(CAST('2024-01-01 12:00:00 UTC' AS TIMESTAMP)) AS h")
      .groupBy()
      .agg(max("h").as("h"))
    caller.conf.set("spark.sql.session.timeZone", "America/New_York")
    val viaFast = graft.core.Jobs.collectFast(hourAgg)(0).getAs[Int]("h")
    assert(viaFast == 7, s"expected 07:00 New York for noon UTC, got $viaFast")
    // a LATER conf change is also seen (the cached child rebuilds); the
    // frame is re-created because the timezone binds at analysis time
    caller.conf.set("spark.sql.session.timeZone", "UTC")
    val after = graft.core.Jobs.collectFast(hourAgg)(0).getAs[Int]("h")
    assert(after == 12, s"conf change not propagated to the stat session: got $after")
  }

  test("Jobs.collectFast handles observed plans in-session (Observation still fires)") {
    val obs = org.apache.spark.sql.Observation("cf_obs_" + System.nanoTime())
    val df = spark
      .range(0, 100)
      .observe(obs, count(lit(1)).as("n"))
      .groupBy()
      .agg(sum(col("id")).as("s"))
    val rows = graft.core.Jobs.collectFast(df)
    assert(rows(0).getAs[Long]("s") == 4950L)
    assert(obs.get("n").asInstanceOf[Long] == 100L, "Observation must fire for observed plans")
  }
}
