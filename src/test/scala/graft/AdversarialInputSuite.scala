package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions.col
import graft.api.GraftOps

/** Adversarial-input contract of the PUBLIC GraftOps API (r18 verdict
  * #4): every entry point is fed (a) an EMPTY frame of the right
  * schema, (b) a frame with NULLS in every nullable named column plus
  * degenerate values (empty strings, empty arrays, all-zero vectors,
  * self-loops), and (c) a frame whose named columns carry WRONG types.
  * The pinned contract: each call either computes a DEFINED result
  * (collect() succeeds) or throws a LOUD NAMED error — an
  * AnalysisException from an analysis-time type check, an
  * IllegalArgumentException/require with a message naming the problem,
  * or a runtime error whose message is ours (the
  * langMarkersFit/MarkerHits convention). A raw NullPointerException
  * or MatchError ANYWHERE in the cause chain fails the suite: those
  * are crashes, not contracts.
  */
class AdversarialInputSuite extends SparkTestBase {

  // ---------------------------------------------------------------
  // Adversarial frames
  // ---------------------------------------------------------------

  private def mk(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val textSchema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))
  private lazy val textEmpty = mk(textSchema)
  private lazy val textNulls = mk(textSchema,
    Row(1L, null), Row(2L, ""), Row(3L, "   "), Row(4L, "a b a b a"),
    Row(null, "orphan text"), Row(5L, "solo"), Row(6L, "a b a b a"))
  private lazy val textWrong = mk(StructType(Seq(
    StructField("id", StringType), StructField("text", LongType))),
    Row("x", 7L), Row("y", null), Row(null, 9L))

  private val vecSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("vec", ArrayType(FloatType))))
  private lazy val vecEmpty = mk(vecSchema)
  private lazy val vecNulls = mk(vecSchema,
    Row(1L, null), Row(2L, Seq.empty[Float]), Row(3L, Seq(1.0f, 2.0f)),
    Row(4L, Seq(0.0f, 0.0f)), Row(null, Seq(3.0f, 4.0f)),
    Row(5L, Seq(null, 1.0f)))
  private lazy val vecWrong = mk(StructType(Seq(
    StructField("id", LongType), StructField("vec", StringType))),
    Row(1L, "not a vector"), Row(2L, null))

  private val edgeSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)))
  private lazy val edgeEmpty = mk(edgeSchema)
  private lazy val edgeNulls = mk(edgeSchema,
    Row(1L, 2L), Row(null, 3L), Row(4L, null), Row(5L, 5L), Row(2L, 1L))
  private lazy val edgeWrong = mk(StructType(Seq(
    StructField("src", StringType), StructField("dst", StringType))),
    Row("a", "b"), Row(null, "c"))

  private val eventSchema = StructType(Seq(
    StructField("user", LongType), StructField("etype", StringType),
    StructField("ts", LongType), StructField("day", DateType)))
  private lazy val eventNulls = mk(eventSchema,
    Row(1L, "view", 10L, java.sql.Date.valueOf("2024-01-01")),
    Row(1L, null, 20L, java.sql.Date.valueOf("2024-01-02")),
    Row(null, "buy", null, null),
    Row(2L, "view", 30L, java.sql.Date.valueOf("2024-01-05")),
    Row(2L, "buy", null, java.sql.Date.valueOf("2024-01-05")))
  private lazy val eventEmpty = mk(eventSchema)

  // ---------------------------------------------------------------
  // The contract checker
  // ---------------------------------------------------------------

  /** Runs the body; passes when it completes, or when it throws a loud
    * named error. Fails on NPE/MatchError anywhere in the cause chain
    * and on message-less anonymous errors. */
  private def definedOrLoud(label: String)(body: => Unit): Unit =
    try body
    catch {
      case e: Throwable =>
        var c: Throwable = e
        var hops = 0
        while (c != null && hops < 20) {
          assert(!c.isInstanceOf[NullPointerException],
            s"$label: raw NullPointerException in the cause chain " +
              s"(top: ${e.getClass.getSimpleName}: ${e.getMessage})")
          assert(!c.isInstanceOf[MatchError],
            s"$label: raw MatchError in the cause chain " +
              s"(top: ${e.getClass.getSimpleName}: ${e.getMessage})")
          c = c.getCause; hops += 1
        }
        assert(e.getMessage != null && e.getMessage.nonEmpty,
          s"$label: message-less ${e.getClass.getName}")
    }

  private def run(label: String)(dfs: (() => DataFrame)*): Unit =
    dfs.zipWithIndex.foreach { case (mkDf, i) =>
      definedOrLoud(s"$label[$i]")(mkDf().collect(): Unit)
    }

  // ---------------------------------------------------------------
  // Text dedup / fingerprinting
  // ---------------------------------------------------------------

  test("exactDedup: empty / nulls / wrong types") {
    run("exactDedup")(
      () => GraftOps.exactDedup(textEmpty, "id", "text"),
      () => GraftOps.exactDedup(textNulls, "id", "text"),
      () => GraftOps.exactDedup(textWrong, "id", "text"))
  }

  test("fingerprintDedup: empty / nulls / wrong types") {
    run("fingerprintDedup")(
      () => GraftOps.fingerprintDedup(textEmpty, "id", "text"),
      () => GraftOps.fingerprintDedup(textNulls, "id", "text"),
      () => GraftOps.fingerprintDedup(textWrong, "id", "text"))
  }

  test("simhash: empty / nulls / wrong types") {
    run("simhash")(
      () => GraftOps.simhash(textEmpty, "id", "text"),
      () => GraftOps.simhash(textNulls, "id", "text"),
      () => GraftOps.simhash(textWrong, "id", "text"))
  }

  test("simhashNearDup: empty / nulls / wrong types") {
    run("simhashNearDup")(
      () => GraftOps.simhashNearDup(textEmpty, "id", "text"),
      () => GraftOps.simhashNearDup(textNulls, "id", "text"),
      () => GraftOps.simhashNearDup(textWrong, "id", "text"))
  }

  test("wordShingles: empty / nulls / wrong types") {
    run("wordShingles")(
      () => GraftOps.wordShingles(textEmpty, "id", "text", 3),
      () => GraftOps.wordShingles(textNulls, "id", "text", 3),
      () => GraftOps.wordShingles(textWrong, "id", "text", 3))
  }

  test("charGrams: empty / nulls / wrong types") {
    run("charGrams")(
      () => GraftOps.charGrams(textEmpty, "id", "text", 8),
      () => GraftOps.charGrams(textNulls, "id", "text", 8),
      () => GraftOps.charGrams(textWrong, "id", "text", 8))
  }

  test("nearDupPairs: empty / nulls / wrong-typed signature column") {
    val wrongHashed = mk(StructType(Seq(
      StructField("doc_id", LongType), StructField("hs", StringType))),
      Row(1L, "nonsense"))
    run("nearDupPairs")(
      () => GraftOps.nearDupPairs(GraftOps.charGrams(textEmpty, "id", "text", 8), 0.9),
      () => GraftOps.nearDupPairs(GraftOps.charGrams(textNulls, "id", "text", 8), 0.9),
      () => GraftOps.nearDupPairs(wrongHashed, 0.9))
  }

  test("dedupComponents: empty / null endpoints / wrong types") {
    run("dedupComponents")(
      () => GraftOps.dedupComponents(spark, edgeEmpty),
      () => GraftOps.dedupComponents(spark, edgeNulls),
      () => GraftOps.dedupComponents(spark, edgeWrong))
  }

  test("repetitionRatio: empty / nulls / wrong types") {
    run("repetitionRatio")(
      () => GraftOps.repetitionRatio(textEmpty, "id", "text", 2),
      () => GraftOps.repetitionRatio(textNulls, "id", "text", 2),
      () => GraftOps.repetitionRatio(textWrong, "id", "text", 2))
  }

  test("shingleOverlap: empty / nulls / wrong types") {
    val bench = mk(textSchema, Row(100L, "a b a"))
    run("shingleOverlap")(
      () => GraftOps.shingleOverlap(textEmpty, "id", "text", bench, "id", "text", 3),
      () => GraftOps.shingleOverlap(textNulls, "id", "text", bench, "id", "text", 3),
      () => GraftOps.shingleOverlap(textWrong, "id", "text", bench, "id", "text", 3))
  }

  // ---------------------------------------------------------------
  // Text analysis / transforms
  // ---------------------------------------------------------------

  test("normalize: empty / nulls / wrong types") {
    run("normalize")(
      () => GraftOps.normalize(textEmpty, "id", "text"),
      () => GraftOps.normalize(textNulls, "id", "text"),
      () => GraftOps.normalize(textWrong, "id", "text"))
  }

  test("tokenChunks: empty / nulls / wrong types") {
    run("tokenChunks")(
      () => GraftOps.tokenChunks(textEmpty, "id", "text", 4, 2),
      () => GraftOps.tokenChunks(textNulls, "id", "text", 4, 2),
      () => GraftOps.tokenChunks(textWrong, "id", "text", 4, 2))
  }

  test("tfidfTopTerms: empty / nulls / wrong types") {
    run("tfidfTopTerms")(
      () => GraftOps.tfidfTopTerms(textEmpty, "id", "text", 3),
      () => GraftOps.tfidfTopTerms(textNulls, "id", "text", 3),
      () => GraftOps.tfidfTopTerms(textWrong, "id", "text", 3))
  }

  test("langMarkersFit: null labels refused loudly; empty and wrong types defined-or-loud") {
    val labeled = mk(StructType(Seq(
      StructField("lang", StringType), StructField("text", StringType))),
      Row("en", "the cat"), Row(null, "stray"), Row("de", "der hund"))
    val ex = intercept[IllegalArgumentException] {
      GraftOps.langMarkersFit(labeled, "lang", "text")
    }
    assert(ex.getMessage.contains("lang"),
      s"null-label refusal should name the column: ${ex.getMessage}")
    definedOrLoud("langMarkersFit[empty]") {
      GraftOps.langMarkersFit(
        mk(StructType(Seq(StructField("lang", StringType),
          StructField("text", StringType)))), "lang", "text"): Unit
    }
    definedOrLoud("langMarkersFit[wrong]") {
      GraftOps.langMarkersFit(textWrong, "id", "text"): Unit
    }
  }

  test("langIdAssign: nulls / wrong types / degenerate model refused") {
    val model = Seq(("de", Seq("der", "hund")), ("en", Seq("cat", "the")))
    run("langIdAssign")(
      () => GraftOps.langIdAssign(textEmpty, "id", "text", model),
      () => GraftOps.langIdAssign(textNulls, "id", "text", model),
      () => GraftOps.langIdAssign(textWrong, "id", "text", model))
    val dup = intercept[IllegalArgumentException] {
      GraftOps.langIdAssign(textNulls, "id", "text",
        Seq(("en", Seq("the", "the"))))
    }
    assert(dup.getMessage.contains("duplicate"))
  }

  test("stratifiedSample: empty / nulls / wrong types") {
    run("stratifiedSample")(
      () => GraftOps.stratifiedSample(textEmpty, "text", "id", 5),
      () => GraftOps.stratifiedSample(textNulls, "text", "id", 5),
      () => GraftOps.stratifiedSample(textWrong, "text", "id", 5))
  }

  test("qualityGate: empty / nulls / wrong types") {
    val stop = Seq("the", "a")
    run("qualityGate")(
      () => GraftOps.qualityGate(textEmpty, "id", "text", 1, 100, 900, 0, stop),
      () => GraftOps.qualityGate(textNulls, "id", "text", 1, 100, 900, 0, stop),
      () => GraftOps.qualityGate(textWrong, "id", "text", 1, 100, 900, 0, stop))
  }

  test("ngramCounts: empty / nulls / wrong types") {
    run("ngramCounts")(
      () => GraftOps.ngramCounts(textEmpty, "text", 2, 1),
      () => GraftOps.ngramCounts(textNulls, "text", 2, 1),
      () => GraftOps.ngramCounts(textWrong, "text", 2, 1))
  }

  test("tokenEntropy: empty / nulls / wrong types") {
    run("tokenEntropy")(
      () => GraftOps.tokenEntropy(textEmpty, "id", "text"),
      () => GraftOps.tokenEntropy(textNulls, "id", "text"),
      () => GraftOps.tokenEntropy(textWrong, "id", "text"))
  }

  test("pmiBigrams: empty / nulls / wrong types") {
    run("pmiBigrams")(
      () => GraftOps.pmiBigrams(textEmpty, "text", 1, 5),
      () => GraftOps.pmiBigrams(textNulls, "text", 1, 5),
      () => GraftOps.pmiBigrams(textWrong, "text", 1, 5))
  }

  test("redact: empty / nulls / wrong types") {
    run("redact")(
      () => GraftOps.redact(textEmpty, "id", "text", "[0-9]+", "<NUM>"),
      () => GraftOps.redact(textNulls, "id", "text", "[0-9]+", "<NUM>"),
      () => GraftOps.redact(textWrong, "id", "text", "[0-9]+", "<NUM>"))
  }

  // ---------------------------------------------------------------
  // Vectors / similarity / ANN
  // ---------------------------------------------------------------

  test("packVectors: empty / nulls / wrong types") {
    run("packVectors")(
      () => GraftOps.packVectors(vecEmpty, "id", "vec"),
      () => GraftOps.packVectors(vecNulls, "id", "vec"),
      () => GraftOps.packVectors(vecWrong, "id", "vec"))
  }

  test("cosineTopK: empty / nulls / wrong types") {
    run("cosineTopK")(
      () => GraftOps.cosineTopK(vecEmpty, "id", "vec", 2),
      () => GraftOps.cosineTopK(vecNulls, "id", "vec", 2),
      () => GraftOps.cosineTopK(vecWrong, "id", "vec", 2))
  }

  test("cosineNearDup: empty / nulls / wrong types") {
    run("cosineNearDup")(
      () => GraftOps.cosineNearDup(vecEmpty, "id", "vec", 0.5),
      () => GraftOps.cosineNearDup(vecNulls, "id", "vec", 0.5),
      () => GraftOps.cosineNearDup(vecWrong, "id", "vec", 0.5))
  }

  test("lshBuckets: empty / nulls / wrong types") {
    run("lshBuckets")(
      () => GraftOps.lshBuckets(vecEmpty, "vec"),
      () => GraftOps.lshBuckets(vecNulls, "vec"),
      () => GraftOps.lshBuckets(vecWrong, "vec"))
  }

  test("ivfFit + ivfAssign: empty / nulls / wrong types") {
    val goodVecs = mk(vecSchema,
      Row(1L, Seq(1.0f, 0.0f)), Row(2L, Seq(0.0f, 1.0f)),
      Row(3L, Seq(1.0f, 1.0f)), Row(4L, Seq(-1.0f, 0.5f)))
    val cents = GraftOps.ivfFit(goodVecs, "id", "vec", 2, 2)
    definedOrLoud("ivfFit[empty]")(
      GraftOps.ivfFit(vecEmpty, "id", "vec", 2, 2).collect(): Unit)
    definedOrLoud("ivfFit[nulls]")(
      GraftOps.ivfFit(vecNulls, "id", "vec", 2, 2).collect(): Unit)
    definedOrLoud("ivfFit[wrong]")(
      GraftOps.ivfFit(vecWrong, "id", "vec", 2, 2).collect(): Unit)
    run("ivfAssign")(
      () => GraftOps.ivfAssign(vecEmpty, "id", "vec", cents, 1),
      () => GraftOps.ivfAssign(vecNulls, "id", "vec", cents, 1),
      () => GraftOps.ivfAssign(vecWrong, "id", "vec", cents, 1))
  }

  test("quantizeInt8: empty / nulls+zero-vectors / wrong types") {
    run("quantizeInt8")(
      () => GraftOps.quantizeInt8(vecEmpty, "id", "vec"),
      () => GraftOps.quantizeInt8(vecNulls, "id", "vec"),
      () => GraftOps.quantizeInt8(vecWrong, "id", "vec"))
  }

  // ---------------------------------------------------------------
  // Keyed helpers / event analytics
  // ---------------------------------------------------------------

  test("topKPerKey: empty / nulls; missing column named loudly") {
    run("topKPerKey")(
      () => GraftOps.topKPerKey(eventEmpty, Seq("user"), "ts", "etype", 2),
      () => GraftOps.topKPerKey(eventNulls, Seq("user"), "ts", "etype", 2))
    val ex = intercept[IllegalArgumentException] {
      GraftOps.topKPerKey(eventNulls, Seq("user"), "nope", "etype", 2)
    }
    assert(ex.getMessage.contains("nope"))
  }

  test("latestWins: empty / nulls / wrong types") {
    run("latestWins")(
      () => GraftOps.latestWins(eventEmpty, "user", "ts"),
      () => GraftOps.latestWins(eventNulls, "user", "ts"),
      () => GraftOps.latestWins(edgeWrong, "src", "dst"))
  }

  test("rateLimit: empty / nulls") {
    run("rateLimit")(
      () => GraftOps.rateLimit(eventEmpty, Seq("user"), Seq("ts"), 1, "rnk"),
      () => GraftOps.rateLimit(eventNulls, Seq("user"), Seq("ts"), 1, "rnk"))
  }

  test("islands: empty / nulls / wrong-typed day column") {
    run("islands")(
      () => GraftOps.islands(eventEmpty, "user", "day"),
      () => GraftOps.islands(eventNulls, "user", "day"),
      () => GraftOps.islands(textNulls, "id", "text"))
  }

  test("retentionMatrix: empty / nulls / wrong-typed day column") {
    run("retentionMatrix")(
      () => GraftOps.retentionMatrix(eventEmpty, "user", "day"),
      () => GraftOps.retentionMatrix(eventNulls, "user", "day"),
      () => GraftOps.retentionMatrix(textNulls, "id", "text"))
  }

  test("funnel: empty / nulls; empty steps refused") {
    run("funnel")(
      () => GraftOps.funnel(eventEmpty, "user", "etype", "ts", Seq("view", "buy")),
      () => GraftOps.funnel(eventNulls, "user", "etype", "ts", Seq("view", "buy")))
    val ex = intercept[IllegalArgumentException] {
      GraftOps.funnel(eventNulls, "user", "etype", "ts", Seq.empty)
    }
    assert(ex.getMessage.contains("step"))
  }

  test("ewma: empty / nulls / wrong types") {
    run("ewma")(
      () => GraftOps.ewma(eventEmpty, "user", Seq("ts"), "ts", 4),
      () => GraftOps.ewma(eventNulls, "user", Seq("ts"), "ts", 4),
      () => GraftOps.ewma(textWrong, "id", Seq("id"), "text", 4))
  }

  test("zscoreOutliers: empty / nulls; envelope overflow named loudly") {
    run("zscoreOutliers")(
      () => GraftOps.zscoreOutliers(eventEmpty, "user", "ts"),
      () => GraftOps.zscoreOutliers(eventNulls, "user", "ts"))
    val huge = mk(StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))),
      (1 to 20).map(i => Row("a", Long.MaxValue / 2 + i)): _*)
    definedOrLoud("zscoreOutliers[overflow]") {
      val e = intercept[Throwable] {
        GraftOps.zscoreOutliers(huge, "k", "v").collect()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(t =>
        t.getMessage != null && t.getMessage.contains("zscoreOutliers")),
        s"overflow should raise the named envelope error, got: $e")
    }
  }

  // ---------------------------------------------------------------
  // Corpus curation
  // ---------------------------------------------------------------

  test("seqPack: empty / nulls / wrong types") {
    run("seqPack")(
      () => GraftOps.seqPack(textEmpty, "text", "id", "text", 8),
      () => GraftOps.seqPack(textNulls, "text", "id", "text", 8),
      () => GraftOps.seqPack(textWrong, "text", "id", "text", 8))
  }

  test("packTexts: empty / nulls / wrong types") {
    run("packTexts")(
      () => GraftOps.packTexts(textEmpty, "text", "id", "text", 8),
      () => GraftOps.packTexts(textNulls, "text", "id", "text", 8),
      () => GraftOps.packTexts(textWrong, "text", "id", "text", 8))
  }

  test("mixBudget: empty / nulls / wrong types") {
    run("mixBudget")(
      () => GraftOps.mixBudget(textEmpty, "text", "id", "text", 8),
      () => GraftOps.mixBudget(textNulls, "text", "id", "text", 8),
      () => GraftOps.mixBudget(textWrong, "text", "id", "text", 8))
  }

  test("weightedSample: empty / nulls / wrong types") {
    val weighted = mk(StructType(Seq(
      StructField("id", LongType), StructField("w", LongType))),
      Row(1L, 5L), Row(2L, null), Row(null, 3L), Row(3L, 10L))
    run("weightedSample")(
      () => GraftOps.weightedSample(weighted.limit(0), "id", "w", 10),
      () => GraftOps.weightedSample(weighted, "id", "w", 10),
      () => GraftOps.weightedSample(textWrong, "id", "text", 10))
  }

  test("fixedSample: empty / nulls / wrong types") {
    run("fixedSample")(
      () => GraftOps.fixedSample(textEmpty, "id", 3),
      () => GraftOps.fixedSample(textNulls, "id", 3),
      () => GraftOps.fixedSample(textWrong, "id", 3))
  }

  // ---------------------------------------------------------------
  // Graph analytics
  // ---------------------------------------------------------------

  test("pageRank: empty / null endpoints / wrong types") {
    run("pageRank")(
      () => GraftOps.pageRank(edgeEmpty, "src", "dst", iters = 2),
      () => GraftOps.pageRank(edgeNulls, "src", "dst", iters = 2),
      () => GraftOps.pageRank(edgeWrong, "src", "dst", iters = 2))
  }

  test("triangleCensus: empty / null endpoints / wrong types") {
    run("triangleCensus")(
      () => GraftOps.triangleCensus(edgeEmpty, "src", "dst"),
      () => GraftOps.triangleCensus(edgeNulls, "src", "dst"),
      () => GraftOps.triangleCensus(edgeWrong, "src", "dst"))
  }

  // ---------------------------------------------------------------
  // Fixture invariants the kernels rely on
  // ---------------------------------------------------------------

  test("events.value is exactly 2-dp on every fixture: floor(v*100+0.5) is HALF_UP cents") {
    // The money paths (ev_tumbling, win_ewma, ev_zscore_outlier) round with
    // floor(value*100 + 0.5) instead of round(value, 2): equal to
    // HALF_UP only while value*100 lies within float error of an
    // integer. A corpus with a third decimal would silently shift
    // cents at every .xx5 boundary; this pins the invariant.
    val dirs = Seq(sf, sf01, sfSibling("sf0.1"))
      .filter(d => java.nio.file.Files.exists(java.nio.file.Paths.get(d, "events.parquet")))
    assert(dirs.nonEmpty, "no events fixture found")
    for (d <- dirs) {
      val ev = Tables.events(spark, d).filter(col("value").isNotNull)
      assert(ev.count() > 0, s"$d: no non-null event values")
      val bad = ev.filter(org.apache.spark.sql.functions.expr(
        "abs(value * 100 - rint(value * 100)) > 1e-6 OR " +
          "cast(floor(value * 100 + 0.5) AS BIGINT) <> " +
          "cast(round(cast(value AS DECIMAL(20,6)), 2) * 100 AS BIGINT)"))
      assert(bad.count() == 0,
        s"$d: events.value not exactly 2-dp, e.g. ${bad.limit(3).collect().mkString(", ")}")
    }
  }
}
