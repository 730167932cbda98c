package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Degenerate-input contracts for the public GraftOps surface: empty
  * corpora, single rows, and all-identical rows. Two properties hold
  * everywhere: (1) the schema of an operator's output is a function of
  * the operator, never of the data — an empty input yields the same
  * columns a populated one does; (2) documented degenerate semantics
  * (no pairs from one doc, keeper = min id, zero-vector quantization,
  * k > n sampling) hold exactly. Every operator here registers its own
  * native expressions, so each call runs on a bare session with no
  * setup — the r12 probe found four vector operators that threw
  * UNRESOLVED_ROUTINE instead.
  */
class EdgeCaseSuite extends SparkTestBase {
  import graft.api.GraftOps

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("text", StringType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  private val evSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("etype", StringType),
    StructField("ts", LongType), StructField("day", DateType),
    StructField("v", LongType)))

  private def mk(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  private def emptyOf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private val emptyDocs = emptyOf(docSchema)
  private val oneDoc = mk(docSchema, Row(7L, "en", "the quick brown fox"))
  private val identDocs = mk(docSchema,
    (1L to 5L).map(i => Row(i, "en", "same text every time here")): _*)
  private val emptyVecs = emptyOf(vecSchema)
  private val someVecs = mk(vecSchema,
    Row(1L, Seq(1.0f, 0.0f)), Row(2L, Seq(1.0f, 0.0f)),
    Row(3L, Seq(0.0f, 1.0f)))
  private val emptyEvents = emptyOf(evSchema)

  /** Empty in → zero rows out, same schema as the populated run. */
  private def stable(name: String)(op: DataFrame => DataFrame,
      empty: DataFrame, populated: DataFrame): Unit = {
    val e = op(empty)
    assert(e.count() == 0, s"$name: empty input must yield zero rows")
    assert(e.schema == op(populated).schema,
      s"$name: schema must not depend on the data")
  }

  test("text operators are schema-stable under an empty corpus") {
    stable("exactDedup")(GraftOps.exactDedup(_, "doc_id", "text"),
      emptyDocs, oneDoc)
    stable("fingerprintDedup")(GraftOps.fingerprintDedup(_, "doc_id", "text"),
      emptyDocs, oneDoc)
    stable("simhash")(GraftOps.simhash(_, "doc_id", "text"),
      emptyDocs, oneDoc)
    stable("simhashNearDup")(GraftOps.simhashNearDup(_, "doc_id", "text"),
      emptyDocs, identDocs)
    stable("tfidfTopTerms")(GraftOps.tfidfTopTerms(_, "doc_id", "text", 3),
      emptyDocs, oneDoc)
    stable("repetitionRatio")(GraftOps.repetitionRatio(_, "doc_id", "text", 2),
      emptyDocs, oneDoc)
    stable("normalize")(GraftOps.normalize(_, "doc_id", "text"),
      emptyDocs, oneDoc)
    stable("tokenChunks")(GraftOps.tokenChunks(_, "doc_id", "text", 2, 2),
      emptyDocs, oneDoc)
    stable("qualityGate")(GraftOps.qualityGate(_, "doc_id", "text",
      1L, 100L, 900L, 0L, Seq("the")), emptyDocs, oneDoc)
    stable("ngramCounts")(GraftOps.ngramCounts(_, "text", 2, 1L),
      emptyDocs, oneDoc)
    stable("tokenEntropy")(GraftOps.tokenEntropy(_, "doc_id", "text"),
      emptyDocs, oneDoc)
    stable("pmiBigrams")(GraftOps.pmiBigrams(_, "text", 1L, 5),
      emptyDocs, identDocs)
    stable("redact")(GraftOps.redact(_, "doc_id", "text", "fox", "<X>"),
      emptyDocs, oneDoc)
    stable("wordShingles")(GraftOps.wordShingles(_, "doc_id", "text", 2),
      emptyDocs, oneDoc)
    stable("charGrams")(GraftOps.charGrams(_, "doc_id", "text", 3),
      emptyDocs, oneDoc)
    stable("langId-shape normalizeThenDedup")(
      d => GraftOps.exactDedup(GraftOps.normalize(d, "doc_id", "text"),
        "doc_id", "norm_text"), emptyDocs, oneDoc)
  }

  test("curation operators are schema-stable under an empty corpus") {
    stable("seqPack")(GraftOps.seqPack(_, "lang", "doc_id", "text", 8L),
      emptyDocs, identDocs)
    stable("packTexts")(GraftOps.packTexts(_, "lang", "doc_id", "text", 8L),
      emptyDocs, identDocs)
    stable("mixBudget")(GraftOps.mixBudget(_, "lang", "doc_id", "text", 8L),
      emptyDocs, identDocs)
    stable("weightedSample")(
      d => GraftOps.weightedSample(d.withColumn("w",
        org.apache.spark.sql.functions.lit(50L)), "doc_id", "w", 100L),
      emptyDocs, identDocs)
    stable("fixedSample")(GraftOps.fixedSample(_, "doc_id", 3),
      emptyDocs, identDocs)
    stable("stratifiedSample")(GraftOps.stratifiedSample(_, "lang", "doc_id", 2),
      emptyDocs, identDocs)
  }

  test("vector operators are schema-stable under an empty table") {
    stable("cosineTopK")(GraftOps.cosineTopK(_, "vec_id", "embedding", 2),
      emptyVecs, someVecs)
    stable("cosineNearDup")(GraftOps.cosineNearDup(_, "vec_id", "embedding", 0.9),
      emptyVecs, someVecs)
    stable("lshBuckets")(GraftOps.lshBuckets(_, "embedding"),
      emptyVecs, someVecs)
    stable("quantizeInt8")(GraftOps.quantizeInt8(_, "vec_id", "embedding"),
      emptyVecs, someVecs)
    // fit on an empty table is zero centroids, not an error
    assert(GraftOps.ivfFit(emptyVecs, "vec_id", "embedding", 3, 1).count() == 0)
  }

  test("event operators are schema-stable under an empty stream") {
    val popEvents = mk(evSchema,
      Row(1L, "view", 10L, java.sql.Date.valueOf("2026-01-01"), 5L),
      Row(1L, "buy", 20L, java.sql.Date.valueOf("2026-01-02"), 6L))
    stable("latestWins")(GraftOps.latestWins(_, "user_id", "ts"),
      emptyEvents, popEvents)
    stable("rateLimit")(
      GraftOps.rateLimit(_, Seq("user_id"), Seq("ts"), 1, "rk"),
      emptyEvents, popEvents)
    stable("islands")(GraftOps.islands(_, "user_id", "day"),
      emptyEvents, popEvents)
    stable("retentionMatrix")(GraftOps.retentionMatrix(_, "user_id", "day"),
      emptyEvents, popEvents)
    stable("zscoreOutliers")(GraftOps.zscoreOutliers(_, "etype", "v"),
      emptyEvents, popEvents)
    stable("topKPerKey")(
      GraftOps.topKPerKey(_, Seq("user_id"), "v", "ts", 1),
      emptyEvents, popEvents)
    // ewma keeps its input columns + the ewma column; empty stays empty
    val ew = GraftOps.ewma(emptyEvents, "user_id", Seq("ts"), "v")
    assert(ew.count() == 0 && ew.columns.contains("ewma"))
    // a funnel over nobody is one row of zeros, not an empty frame
    val f = GraftOps.funnel(emptyEvents, "user_id", "etype", "ts",
      Seq("view", "buy")).collect()
    assert(f.length == 1 && f(0).getLong(0) == 0L && f(0).getLong(1) == 0L,
      "empty funnel must report n_users = reached_* = 0")
  }

  test("tumblingStream: zero-row source keeps the populated schema; output survives a missing _SUCCESS") {
    import graft.streaming.StreamDemo
    // A zero-row events file with the real schema — the corpus shape a
    // quiet tenant produces. Coalesce-write then promote the single
    // part file to <dir>/events.parquet so the pathGlobFilter sees it.
    val dir = Tables.scratchDir("graft_empty_sf_")
    val evSchema = spark.read.parquet(s"$sf/events.parquet").schema
    val tmp = dir.resolve("tmp").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], evSchema)
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.startsWith("part-")).get
    java.nio.file.Files.copy(part.toPath, dir.resolve("events.parquet"))
    val empty = StreamDemo.tumblingStream(spark, dir.toString)
    val populated = StreamDemo.tumblingStream(spark, sf)
    assert(empty.count() == 0, "zero-row source must yield zero windows")
    assert(empty.schema == populated.schema,
      "empty- and populated-source paths must return the same schema " +
        "(fallback is derived from the aggregation, r13 verdict #5)")
    // marksuccessfuljobs=false clusters write no _SUCCESS marker; the
    // restart read-back must detect output by CONTENT, not marker
    // (r13 advice) — delete the marker and re-invoke.
    val out = StreamDemo.streamRoot(spark, sf, "ev_tumble")
      .resolve("out").toFile
    val marker = new java.io.File(out, "_SUCCESS")
    assert(!marker.exists || marker.delete(), "could not remove marker")
    val again = StreamDemo.tumblingStream(spark, sf)
    assert(again.count() == populated.count() && again.count() > 0,
      "restart with no _SUCCESS marker must still serve the committed " +
        "output, not the empty fallback")
  }

  test("appendStream: zero-row source yields zero windows with the populated schema") {
    import graft.streaming.StreamDemo
    // Same zero-row events file as the tumblingStream case, through
    // the shared append-to-parquet runner: zero windows, and the same
    // columns as a populated run.
    val dir = Tables.scratchDir("graft_empty_append_sf_")
    val tmp = dir.resolve("tmp").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      spark.read.parquet(s"$sf/events.parquet").schema).coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.startsWith("part-")).get
    java.nio.file.Files.copy(part.toPath, dir.resolve("events.parquet"))
    val empty = StreamDemo.appendStream(spark, dir.toString)
    assert(empty.count() == 0, "zero-row source must yield zero windows")
    assert(empty.schema == StreamDemo.appendStream(spark, sf).schema)
  }

  test("tumblingStream: directory-layout events table streams the same rows as the file layout") {
    import graft.streaming.StreamDemo
    // Lakehouse corpora (and the CrossoverProbe ×N corpora) ship
    // events as a parquet DIRECTORY; the driver corpus ships a single
    // file. The old pathGlobFilter-only source matched nothing against
    // a directory and every stream silently ran EMPTY — the ×10
    // ScaleSweep's streams all "passed" on zero rows before this pin.
    val dir = Tables.scratchDir("graft_dir_sf_")
    spark.read.parquet(s"$sf/events.parquet").repartition(3)
      .write.parquet(dir.resolve("events.parquet").toString)
    val viaDir = StreamDemo.tumblingStream(spark, dir.toString)
    val viaFile = StreamDemo.tumblingStream(spark, sf)
    assert(viaDir.count() == viaFile.count() && viaFile.count() > 0,
      "directory-layout streaming source must process the same backlog")
  }

  test("single-document corpus: no pairs, top terms bounded, one chunk run") {
    assert(GraftOps.simhashNearDup(oneDoc, "doc_id", "text").count() == 0)
    val tf = GraftOps.tfidfTopTerms(oneDoc, "doc_id", "text", 3).collect()
    assert(tf.length == 3, "4 distinct terms, k=3 -> exactly 3 rows")
    val ch = GraftOps.tokenChunks(oneDoc, "doc_id", "text", 2, 2).collect()
    assert(ch.length == 2 && ch.map(_.getLong(3)).sum == 4,
      "window 2 / stride 2 over 4 tokens = 2 full chunks")
    assert(GraftOps.cosineTopK(
      mk(vecSchema, Row(1L, Seq(1.0f, 0.0f))), "vec_id", "embedding", 2)
      .count() == 0, "a lone vector has no partners (self excluded)")
  }

  test("all-identical corpus: dedup collapses to min-id keeper, all pairs found") {
    val ed = GraftOps.exactDedup(identDocs, "doc_id", "text").collect()
    assert(ed.length == 1 && ed(0).getLong(1) == 1L && ed(0).getLong(2) == 5L,
      "one group, keeper = min id, dup_cnt = 5")
    val pairs = GraftOps.simhashNearDup(identDocs, "doc_id", "text")
    val p = pairs.collect()
    assert(p.length == 10 && p.forall(_.getLong(2) == 0L),
      "C(5,2) identical-fingerprint pairs, all at Hamming 0")
    val comp = GraftOps.dedupComponents(spark, pairs).collect()
    assert(comp.length == 5 && comp.forall(_.getLong(1) == 1L),
      "one component labeled by the minimum id")
    // the pair on identical embeddings carries sim = 1.0 exactly
    val nd = GraftOps.cosineNearDup(
      mk(vecSchema, Row(1L, Seq(1.0f, 0.0f)), Row(2L, Seq(1.0f, 0.0f))),
      "vec_id", "embedding", 0.9).collect()
    assert(nd.length == 1 && nd(0).getLong(0) == 1L &&
      nd(0).getLong(1) == 2L && nd(0).getDouble(2) == 1.0d)
  }

  test("sampling contracts at the boundaries") {
    // weight 0 never sampled, weight = cap always sampled
    import org.apache.spark.sql.functions._
    val never = GraftOps.weightedSample(
      identDocs.withColumn("w", lit(0L)), "doc_id", "w", 100L)
    assert(never.count() == 0, "weight 0 must never be kept")
    // weight = cap keeps every row whose hash clears the truncated
    // threshold cap*(2^32 div cap) — NOT unconditionally every row (a
    // ~96/2^32 per-row residue is dropped even at full weight); these
    // fixture ids all clear it, and the kept set must be monotone in
    // the weight
    val always = GraftOps.weightedSample(
      identDocs.withColumn("w", lit(100L)), "doc_id", "w", 100L)
    assert(always.count() == 5, "these ids all hash under cap*slot")
    val half = GraftOps.weightedSample(
      identDocs.withColumn("w", lit(50L)), "doc_id", "w", 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(half.subsetOf(
      always.select("doc_id").collect().map(_.getLong(0)).toSet),
      "kept set must be monotone in the weight")
    assert(GraftOps.fixedSample(identDocs, "doc_id", 50).count() == 5,
      "k > n returns all rows")
    // zero-vector quantization: scale 0, all-zero codes
    val q = GraftOps.quantizeInt8(
      mk(vecSchema, Row(1L, Seq(0.0f, 0.0f))), "vec_id", "embedding")
      .collect()(0)
    assert(q.getFloat(1) == 0.0f && q.getString(2) == "0|0")
  }

  test("null and empty-string text rows: no crashes, no phantom pairs") {
    // a realistic corpus has failed-scrape rows; pin the SQL-null
    // semantics each operator inherits so they stay deliberate
    val docs = mk(docSchema,
      Row(1L, "en", "hello world again"), Row(2L, "en", null),
      Row(3L, null, "hello world again"), Row(4L, "en", ""),
      Row(5L, "en", "hello world again"))
    // null-text rows group under the null digest (SQL group-by-null),
    // they do NOT merge with any real content
    val ed = GraftOps.exactDedup(docs, "doc_id", "text").collect()
    assert(ed.length == 3, "identical trio + null + empty-string")
    assert(ed.filter(_.isNullAt(0)).map(_.getLong(2)).toSeq == Seq(1L),
      "the null-text group holds exactly the null rows")
    // near-dup: null fingerprints never pair; the identical trio does
    val p = GraftOps.simhashNearDup(docs, "doc_id", "text").collect()
    assert(p.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 3L), (1L, 5L), (3L, 5L)),
      "pairs = C(3,2) over the identical trio only")
    // per-row maps propagate null rather than crash or drop
    val rd = GraftOps.redact(docs, "doc_id", "text", "world", "X").collect()
    assert(rd.length == 5 && rd.exists(r => r.isNullAt(1) && r.isNullAt(2)))
    // packing: a null-text doc consumes zero budget and the shard
    // still packs the rest
    val sp = GraftOps.seqPack(docs, "lang", "doc_id", "text", 4L)
      .filter("lang = 'en'").collect()
    assert(sp.length == 4 && sp.map(_.getLong(1)).toSeq ==
      Seq(1L, 2L, 4L, 5L))
  }

  test("empty near-dup pipeline end to end: shingles, pairs, components") {
    val hs = GraftOps.wordShingles(emptyDocs, "doc_id", "text", 3)
    val pairs = GraftOps.nearDupPairs(hs, 0.9)
    assert(pairs.count() == 0)
    assert(GraftOps.dedupComponents(spark, pairs).count() == 0,
      "components over an empty pair list converge to an empty frame")
  }

  test("XML round trip preserves markup-hostile text exactly") {
    // The corpus supplier strings are XML-benign; this pins the
    // escaping contract the scan_xml_roundtrip operator relies on —
    // entities, angle brackets, quotes, a CDATA-lookalike and a
    // multiline value must survive the writer/reader pair untouched.
    import spark.implicits._
    val hostile = Seq(
      (1L, "a&b <tag> \"quoted\" 'single'"),
      (2L, "]]> <![CDATA[not-cdata]]> &amp; &#x41;"),
      (3L, "line1\nline2\ttabbed"),
      (4L, "  space-padded value  "),
      (5L, "plain")).toDF("id", "s")
    val path = Tables.scratchDir("graft_xmledge_").resolve("h").toString
    hostile.write.option("rowTag", "r").format("xml").save(path)
    val back = spark.read.schema(hostile.schema).option("rowTag", "r")
      .option("ignoreSurroundingSpaces", "false")
      .format("xml").load(path)
    assert(back.exceptAll(hostile).count() == 0 &&
      hostile.exceptAll(back).count() == 0,
      "markup-hostile strings did not survive the XML round trip")
  }

  test("langid model caps at 64 languages with a clear error") {
    // MarkerHits packs language membership into one 64-bit mask per
    // token; both the expression and the public API must refuse a
    // wider model loudly instead of silently corrupting counts.
    val wide = (0 until 65).map(i => (f"l$i%02d", Seq(s"tok$i")))
    import spark.implicits._
    val df = Seq((1L, "tok1 tok2")).toDF("id", "t")
    val e = intercept[IllegalArgumentException] {
      api.GraftOps.langIdAssign(df, "id", "t", wide)
    }
    assert(e.getMessage.contains("64"), s"unhelpful error: ${e.getMessage}")
    // A duplicated marker token within one language must refuse
    // loudly: the kernel's bitmask counts set MEMBERSHIP, and a
    // silent once-per-instance count would diverge from the
    // documented explode-join fan-out semantics.
    val dup = intercept[IllegalArgumentException] {
      api.GraftOps.langIdAssign(df, "id", "t",
        Seq(("en", Seq("the", "the"))))
    }
    assert(dup.getMessage.contains("duplicate"),
      s"unhelpful duplicate-marker error: ${dup.getMessage}")
    // At exactly 64 the kernel works (bit 63 exercised).
    val full = (0 until 64).map(i => (f"l$i%02d", Seq(s"tok$i")))
    val hit = api.GraftOps.langIdAssign(
        Seq((1L, "tok63")).toDF("id", "t"), "id", "t", full)
      .collect()
    assert(hit.length == 1 && hit.head.getString(1) == "l63",
      s"bit-63 language not counted: ${hit.toSeq}")
  }

  test("langMarkersFit rejects null labels loudly and drops null texts") {
    import spark.implicits._
    // A null lang previously survived the groupBy and NPE'd in the
    // driver-side sort (r16 advice) — now refused with the column named.
    val withNullLang = Seq((Option("en"), "the cat"),
      (Option.empty[String], "der hund")).toDF("lang", "t")
    val e = intercept[IllegalArgumentException] {
      api.GraftOps.langMarkersFit(withNullLang, "lang", "t")
    }
    assert(e.getMessage.contains("lang") && e.getMessage.contains("null"),
      s"unhelpful null-label error: ${e.getMessage}")
    // The refusal is folded into the fit's single pass (r17 advice) —
    // a null label whose TEXT is also null must still be caught (the
    // explode_outer sentinel row carries it to the aggregation).
    val bothNull = Seq((Option("en"), Option("the cat")),
      (Option.empty[String], Option.empty[String])).toDF("lang", "t")
    val e2 = intercept[IllegalArgumentException] {
      api.GraftOps.langMarkersFit(bothNull, "lang", "t")
    }
    assert(e2.getMessage.contains("null"),
      s"null-label+null-text row escaped the folded check: ${e2.getMessage}")
    // Null TEXT rows contribute no tokens (documented SQL semantics:
    // explode of a null split is empty) — the fit still succeeds.
    val withNullText = Seq(("en", Option("the cat the")),
      ("en", Option.empty[String])).toDF("lang", "t")
    assert(api.GraftOps.langMarkersFit(withNullText, "lang", "t", topN = 2)
      == Seq(("en", Seq("cat", "the"))))
  }

  test("marker kernel: analysis-time shape errors, alternating models, bounded cache") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, when}
    GraftSession(spark)
    // Wrong multiplier type fails at ANALYSIS (was a ClassCastException
    // at execution, r16 advice).
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq("x").toDF("t")
        .select(expr("graft_rollhash(t, cast(31 as bigint))")).collect()
    }
    // A swapped model struct order fails at analysis with the expected
    // shape named (MarkerModel decodes positionally).
    val ae = intercept[org.apache.spark.sql.AnalysisException] {
      Seq("x").toDF("t").select(expr(
        "graft_marker_hits(t, array(named_struct(" +
          "'toks', array('a'), 'lang', 'en')))")).collect()
    }
    assert(ae.getMessage.contains("ARRAY<STRUCT"),
      s"shape not named in: ${ae.getMessage}")
    // Two distinct models ALTERNATING per row through the non-foldable
    // path on one session: each row scores against its own model.
    val m1 = "array(named_struct('lang','en','toks',array('the','and'))," +
      "named_struct('lang','de','toks',array('der')))"
    val m2 = "array(named_struct('lang','fr','toks',array('le'))," +
      "named_struct('lang','en','toks',array('the')))"
    val out = (0L to 3L).toDF("id")
      .withColumn("t", org.apache.spark.sql.functions.lit("the cat and the dog"))
      .withColumn("mk", when(col("id") % 2 === 0, expr(m1)).otherwise(expr(m2)))
      .select(col("id"), expr("graft_marker_hits(t, mk)").as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(out(0L) == Seq(3, 0) && out(2L) == Seq(3, 0),
      s"model-1 rows miscounted: $out")   // the,and,the
    assert(out(1L) == Seq(0, 2) && out(3L) == Seq(0, 2),
      s"model-2 rows miscounted: $out")   // le=0, the=2
    // Retention bound (r16 verdict #4): ten distinct models through
    // one thread's cache retain at most MarkerCacheCap decoded copies;
    // evicted models still score correctly on re-encounter (re-decode).
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def model(tag: Int) = new GenericArrayData(Array[Any](
      InternalRow(UTF8String.fromString(s"l$tag"),
        new GenericArrayData(Array[Any](UTF8String.fromString(s"tok$tag"))))))
    val text = UTF8String.fromString("tok3 x tok9")
    for (i <- 0 until 10)
      graft.functions.VectorExprs.markerHitsEval(text, model(i))
    val sz = graft.functions.VectorExprs.markerCacheSize()
    assert(sz <= graft.functions.VectorExprs.MarkerCacheCap,
      s"per-thread marker cache grew past the bound: $sz")
    assert(graft.functions.VectorExprs.markerHitsEval(text, model(9))
      .toIntArray()(0) == 1, "MRU model miscounts")
    assert(graft.functions.VectorExprs.markerHitsEval(text, model(3))
      .toIntArray()(0) == 1, "evicted model must re-decode and count")
    // A null token inside a model is refused at decode with the defect
    // named (was an NPE deep in clone()).
    val nullTok = new GenericArrayData(Array[Any](
      InternalRow(UTF8String.fromString("en"),
        new GenericArrayData(Array[Any](null)))))
    val iae = intercept[IllegalArgumentException] {
      graft.functions.VectorExprs.markerHitsEval(text, nullTok)
    }
    assert(iae.getMessage.contains("null token"),
      s"unhelpful null-token error: ${iae.getMessage}")
    // A null struct ELEMENT in the model array is likewise refused at
    // decode (r17 advice: getStruct returns null for a null entry and
    // the lang read NPE'd before any require fired; checkInputDataTypes
    // accepts containsNull arrays so SQL can build this shape).
    val nullEntry = new GenericArrayData(Array[Any](
      InternalRow(UTF8String.fromString("en"),
        new GenericArrayData(Array[Any](UTF8String.fromString("the")))),
      null))
    val nee = intercept[IllegalArgumentException] {
      graft.functions.VectorExprs.markerHitsEval(text, nullEntry)
    }
    assert(nee.getMessage.contains("entry 1") && nee.getMessage.contains("null"),
      s"unhelpful null-entry error: ${nee.getMessage}")
    // ...and through the SQL surface (array(named_struct(...), null)).
    val sqlNee = intercept[Exception] {
      Seq("the cat").toDF("t").select(expr(
        "graft_marker_hits(t, array(named_struct(" +
          "'lang','en','toks',array('the')), null))")).collect()
    }
    assert(sqlNee.getMessage.contains("null"),
      s"SQL null-entry not refused loudly: ${sqlNee.getMessage}")
  }

  test("concurrent queries on a shared session match their serial results") {
    // A real deployment multiplexes query threads over one session.
    // This exercises the shared mutable surfaces at once: FitOnce
    // checkpoint fills and the one-time GraftSession install (function
    // registration and the append to
    // experimental.extraStrategies/extraOptimizations).
    val names = Seq("agg_q1_pricing", "win_topk_native", "llm_ann_ivf",
      "llm_near_dedup", "llm_simhash_neardup", "fn_json", "ev_session",
      "llm_tfidf")
    def rows(n: String): Seq[String] =
      SparkEntry.queries(n)(spark, sf).collect().map(_.toString).toSeq
    val serial = names.map(n => n -> rows(n)).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
    try {
      val futs = names.map { n =>
        n -> pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = rows(n)
        })
      }
      futs.foreach { case (n, f) =>
        assert(f.get(300, java.util.concurrent.TimeUnit.SECONDS) == serial(n),
          s"$n diverged under concurrent execution")
      }
    } finally pool.shutdown()
    val strategies = spark.experimental.extraStrategies
    assert(strategies.count(_ == graft.plans.TopKStrategy) <= 1,
      "TopKStrategy must not be double-injected by racing threads")
    assert(spark.experimental.extraOptimizations
      .count(_ == graft.plans.OrderAwareWindowExchange) <= 1,
      "OrderAwareWindowExchange must not be double-injected by racing threads")
    assert(spark.experimental.extraOptimizations
      .count(_ == graft.plans.JsonFieldRewrite) <= 1,
      "JsonFieldRewrite must not be double-injected by racing threads")
  }
}
