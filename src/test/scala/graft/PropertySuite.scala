package graft

import org.apache.spark.sql.functions._

/** Cheap invariants (SURVEY §5.5) — structural properties that must
  * hold regardless of data values.
  */
class PropertySuite extends SparkTestBase {

  test("dedup is idempotent: dedup groups all have keeper == min id") {
    val d = llm.Dedup.exactDedup(spark, sf)
    val n = d.count()
    assert(d.select("keeper_id").distinct().count() == n)
  }

  test("digest-keyed exact dedup equals the direct group-by-text plan") {
    // r12 moved the md5 digest INTO the grouping key so the shuffle
    // carries 48-byte rows instead of document bodies. The 2^-64
    // collision posture is documented at the operator; this pins the
    // plan EQUIVALENCE — (keeper, dup_cnt) identical to grouping the
    // raw text — so a future digest truncation or cast edit fails
    // loudly here instead of only oracle-incidentally (r12 advice #6).
    // sf0.1: the one corpus with planted exact duplicates (8 pairs),
    // so both the dup and the singleton paths are exercised.
    val sf1 = sfSibling("sf0.1")
    val digest = llm.Dedup.exactDedup(spark, sf1)
      .select("keeper_id", "dup_cnt")
    val direct = Tables.documents(spark, sf1)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("dup_cnt"))
      .select("keeper_id", "dup_cnt")
    assert(direct.filter(col("dup_cnt") > 1).count() > 0,
      "corpus lost its planted duplicates — the dup path is untested")
    assert(digest.exceptAll(direct).count() == 0 &&
      direct.exceptAll(digest).count() == 0,
      "digest-keyed dedup diverged from direct group-by-text")
  }

  test("top-k is a prefix of the fully sorted output") {
    val full = operators.SortSet.topkLimit(spark, sf).collect()
    val sorted = full.sortBy(r => (-r.getDouble(2), r.getLong(0)))
    assert(full.toSeq == sorted.toSeq, "limit output not in sorted order")
  }

  test("session count is monotonically non-increasing in gap size") {
    def sessions(gap: String): Long =
      Tables.events(spark, sf)
        .groupBy(session_window(col("ts2"), gap), col("user_id"))
        .count().count()
    val s5 = sessions("5 minutes")
    val s30 = sessions("30 minutes")
    val s120 = sessions("120 minutes")
    assert(s5 >= s30 && s30 >= s120, s"$s5 >= $s30 >= $s120 violated")
  }

  test("hash sampling keeps ~10% and is a strict subset of the source") {
    val total = Tables.lineitem(spark, sf).count().toDouble
    val sampled = operators.Scans.sampleHash(spark, sf).count().toDouble
    val rate = sampled / total
    assert(rate > 0.05 && rate < 0.15, s"sample rate $rate outside [0.05, 0.15]")
  }

  test("set algebra: |A ∩ B| + |A \\ B| == |distinct A|") {
    val inter = operators.SortSet.setIntersect(spark, sf).count()
    val exc = operators.SortSet.setExcept(spark, sf).count()
    val distinctA = Tables.customer(spark, sf)
      .select("c_custkey").distinct().count()
    assert(inter + exc == distinctA)
  }

  test("window rank within group bounds and dense_rank <= rank") {
    val df = operators.Windows.winRankDense(spark, sf)
    val bad = df.filter(col("drnk") > col("rnk")).count()
    assert(bad == 0)
  }

  test("packed cosine kernel equals scala brute force on random vectors") {
    GraftSession(spark)
    val rnd = new scala.util.Random(42)
    val n = 60
    val dim = 8
    val vecs = Array.tabulate(n)(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    import spark.implicits._
    val df = vecs.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val packed = df
      .select(struct(col("vec_id"),
        sqrt(expr("graft_dot(embedding, embedding)")).as("nrm"),
        col("embedding")).as("v"))
      .agg(collect_list(col("v")).as("vs")).withColumn("j", lit(0))
    val kernel = df.withColumn("j", lit(0)).join(broadcast(packed), "j")
      .select(col("vec_id").as("x"),
        explode(expr("graft_cos_topk(vec_id, embedding, vs, 5)")).as("p"))
      .select(col("x"), col("p.y").as("y"), col("p.sim").as("sim"))
      .filter(col("x") < col("y"))
      .orderBy(desc("sim"), asc("x"), asc("y")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def round6(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def dot(a: Seq[Float], b: Seq[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val brute = (for {
      (x, a) <- vecs; (y, b) <- vecs if x < y
    } yield (x, y, round6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))))
      .sortBy { case (x, y, s) => (-s, x, y) }.take(20).toSeq
    assert(kernel == brute, s"kernel top-20 != brute force top-20")
  }

  test("native char-gram hash count equals distinct substring count") {
    // Pins the byte-gram ≡ char-gram assumption (pure-ASCII corpus) and
    // collision-freeness of the one-pass hasher on real data.
    GraftSession(spark)
    val bad = Tables.documents(spark, sf)
      .filter(length(col("text")) >= 8)
      .select(
        expr("size(graft_chargram_hashes(text, 8))").as("native"),
        expr("size(array_distinct(transform(sequence(1, length(text) - 7), " +
          "i -> substring(text, i, 8))))").as("strings"))
      .filter(col("native") =!= col("strings"))
      .count()
    assert(bad == 0, s"$bad docs where native gram count != string gram count")
  }

  test("sampled-jaccard hashed single-pass plan equals the raw string-gram spec") {
    // Pins the r21 restructure of llm_ngram_jaccard_sampled: the rare-
    // (2–3-doc)-gram pair selection reconstructed from count/min/max/
    // sum aggregates over HASHED grams (middle doc of a 3-set =
    // sum − min − max) and the array_intersect verification over the
    // char8 sketch arrays must row-for-row equal the direct raw-
    // string-gram computation (the pre-r21 shape, stated here as the
    // spec).
    val g = Tables.documents(spark, sf)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        explode(expr("sequence(1, length(text) - 7)")).as("i"), col("text"))
      .select(col("doc_id"), expr("substring(text, i, 8)").as("s"))
      .distinct()
    val rare = g.groupBy("s").agg(count(lit(1)).as("c"))
      .filter(col("c").between(2, 3)).select("s")
    val rg = g.join(rare, "s")
    val pairs = rg.as("a").join(rg.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y")).distinct()
    val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = pairs.join(g.as("ga"), col("x") === col("ga.doc_id"))
      .join(g.as("gb"),
        col("y") === col("gb.doc_id") && col("ga.s") === col("gb.s"))
      .groupBy("x", "y").agg(count(lit(1)).as("c"))
    val spec = common
      .join(sizes.as("sa"), col("x") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("y") === col("sb.doc_id"))
      .select(col("x"), col("y"), col("c"),
        col("sa.n").as("na"), col("sb.n").as("nb"),
        (col("c").cast("double") /
          (col("sa.n") + col("sb.n") - col("c")).cast("double")).as("j"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    val got = llm.Dedup.ngramJaccardSampled(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got.nonEmpty, "sampled-jaccard returned no pairs on the smoke corpus")
    assert(got == spec,
      s"hashed plan != string spec: only-got=${(got -- spec).take(3)} " +
        s"only-spec=${(spec -- got).take(3)}")
  }

  test("native word-shingle hash count equals distinct shingle count") {
    GraftSession(spark)
    val bad = Tables.documents(spark, sf)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(
        expr("size(graft_wordshingle_hashes(text, 3))").as("native"),
        expr("size(array_distinct(transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))))").as("strings"))
      .filter(col("native") =!= col("strings"))
      .count()
    assert(bad == 0, s"$bad docs where native shingle count != string shingle count")
  }

  test("native expression edge cases: short inputs, k > n, empty sets") {
    GraftSession(spark)
    val r = spark.sql(
      "SELECT size(graft_chargram_hashes('abc', 8)) AS short_gram, " +
        "size(graft_chargram_hashes('abcdefgh', 8)) AS one_gram, " +
        "size(graft_wordshingle_hashes('one two', 3)) AS short_shingle, " +
        "size(graft_wordshingle_hashes('a b c', 3)) AS one_shingle, " +
        "size(graft_wordshingle_hashes('a  b', 2)) AS empty_tok_shingles"
    ).head()
    assert(r.getInt(0) == 0, "text shorter than n must yield no grams")
    assert(r.getInt(1) == 1)
    assert(r.getInt(2) == 0, "fewer tokens than n must yield no shingles")
    assert(r.getInt(3) == 1)
    assert(r.getInt(4) == 2, "doubled space produces an empty token, like split(' ')")
    // CosTopK with k larger than the table: returns all partners, no crash.
    val topk = spark.sql(
      "SELECT size(graft_cos_topk(0L, array(cast(1.0 as float)), " +
        "array(struct(0L, 1.0D, array(cast(1.0 as float))), " +
        "struct(1L, 1.0D, array(cast(1.0 as float))), " +
        "struct(2L, 1.0D, array(cast(1.0 as float)))), 10))").head().getInt(0)
    assert(topk == 2, "self excluded, both partners returned when k > n")
  }

  test("native SimHash62 equals the interpreted HOF bit-majority fold") {
    // The DuckDB oracle evaluates the HOF formula; the Spark side runs
    // the native one-pass expression — they must agree bit-for-bit.
    GraftSession(spark)
    def roll(s: String, m: Int) =
      s"aggregate(transform(split($s, ''), c -> cast(ascii(c) as bigint)), " +
        s"cast(0 as bigint), (a, b) -> (a * $m + b) % 2147483647)"
    def half(m: Int) = (0 until 31).map { i =>
      s"(CASE WHEN 2 * size(filter(th$m, h -> shiftright(h, $i) % 2 = 1)) >= size(th$m) THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val bad = Tables.documents(spark, sf)
      .withColumn("th31", expr(s"transform(split(text, ' '), t -> ${roll("t", 31)})"))
      .withColumn("th131", expr(s"transform(split(text, ' '), t -> ${roll("t", 131)})"))
      .select(
        expr("graft_simhash62(text)").as("native"),
        expr(s"array(cast(${half(31)} as bigint), cast(${half(131)} as bigint))").as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(bad == 0, s"$bad docs where native simhash != HOF simhash")
  }

  test("native marker-hit counts equal the exploded-join count spec") {
    // MarkerHits is langid's serving kernel; the executable spec is
    // the explode(split(text,' ')) ⋈ markers per-(doc, lang) instance
    // count it replaced (and which the DuckDB oracle still runs).
    // Edge rows force the tokenizer corners: empty text (one empty
    // token), leading/double/trailing spaces (interior and trailing
    // empty segments kept — split limit -1 semantics), a token shared
    // by two languages' marker sets, and the empty token AS a marker.
    GraftSession(spark)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .unionAll(spark.sql("SELECT CAST(-1 AS BIGINT), ''"))
      .unionAll(spark.sql("SELECT CAST(-2 AS BIGINT), ' the  fox the '"))
    val pack = spark.sql(
      "SELECT array(" +
        "named_struct('cand_lang', 'aa', 'toks', array('the', 'fox')), " +
        "named_struct('cand_lang', 'bb', 'toks', array('', 'the')), " +
        "named_struct('cand_lang', 'cc', 'toks', array('zebra'))) AS mk")
    val native = docs.crossJoin(pack)
      .select(col("doc_id"), expr("graft_marker_hits(text, mk)").as("h"))
      .select(col("doc_id"),
        expr("cast(h[0] as bigint)").as("aa"),
        expr("cast(h[1] as bigint)").as("bb"),
        expr("cast(h[2] as bigint)").as("cc"))
    val spec = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id")).agg(
        sum(when(col("tok").isin("the", "fox"), 1L).otherwise(0L)).as("aa"),
        sum(when(col("tok").isin("", "the"), 1L).otherwise(0L)).as("bb"),
        sum(when(col("tok") === "zebra", 1L).otherwise(0L)).as("cc"))
    assert(native.exceptAll(spec).count() == 0 &&
      spec.exceptAll(native).count() == 0,
      "native marker-hit counts diverged from the exploded-join spec")
    val edge = native.filter(col("doc_id") === -2L).collect().head
    assert(edge.getLong(1) == 3 && edge.getLong(2) == 5,
      s"edge row counted (${edge.getLong(1)}, ${edge.getLong(2)}) — " +
        "expected 3 'the'/'fox' hits and 5 for ''+'the' (3 empty segments)")
    // FOLDABLE-model path (the langid serving shape: model decoded
    // once at the expression, not per row) must agree with the
    // column-model path above.
    val mkLit = typedlit(Seq(
      ("aa", Seq("the", "fox")), ("bb", Seq("", "the")),
      ("cc", Seq("zebra"))))
    val folded = docs.select(col("doc_id"), col("text"), mkLit.as("mk"))
      .select(col("doc_id"), expr("graft_marker_hits(text, mk)").as("h"))
      .select(col("doc_id"),
        expr("cast(h[0] as bigint)").as("aa"),
        expr("cast(h[1] as bigint)").as("bb"),
        expr("cast(h[2] as bigint)").as("cc"))
    assert(folded.exceptAll(spec).count() == 0 &&
      spec.exceptAll(folded).count() == 0,
      "foldable-model marker-hit counts diverged from the spec")
  }

  test("public graph API: exact census and pagerank on known graphs") {
    import spark.implicits._
    // K4 handed over as a MESSY edge list (every ordered pair incl.
    // self-loops): undirected() must canonicalize to 6 edges. Exact
    // census: 12 wedges (4 nodes × C(3,2)), 4 triangles, gcc = 1.
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L } yield (a, b)).toDF("s", "d")
    val c = api.GraftOps.triangleCensus(k4, "s", "d").head()
    assert(c.getLong(0) == 6 && c.getLong(1) == 12 && c.getLong(2) == 4
      && c.getFloat(3) == 1.0f, s"K4 census: $c")
    // PageRank on the vertex-transitive K4: all four nodes must hold
    // the IDENTICAL exact integer — the uniform fixpoint of the floor
    // arithmetic: (1e12·85) div 300 × 3 + 1.5e11 = 999_999_999_999.
    val pr = api.GraftOps.pageRank(k4, "s", "d").collect()
    assert(pr.length == 4 && pr.forall(_.getLong(1) == 999999999999L),
      s"K4 ranks: ${pr.map(r => (r.getLong(0), r.getLong(1))).toSeq}")
    // Star S3: the hub must outrank the (mutually equal) leaves, with
    // the exact 3-iteration floor values.
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "d")
    val sp = api.GraftOps.pageRank(star, "s", "d").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sp(0L) == 2483250000000L &&
      Seq(1L, 2L, 3L).forall(sp(_) == 505583333333L), s"star ranks: $sp")
    // Triangle-free graph (the star): the census must return exact
    // ZEROS, not the nulls an empty inner-join sum would produce —
    // and the wedge-ful gcc is 0, not 0/0.
    val sc = api.GraftOps.triangleCensus(star, "s", "d").head()
    assert(!sc.isNullAt(2) && sc.getLong(2) == 0 && !sc.isNullAt(3)
      && sc.getFloat(3) == 0.0f && sc.getLong(1) == 3,
      s"triangle-free census must be exact zeros: $sc")
  }

  test("raw-cosine prune is lossless: pair search equals its round-first spec") {
    // Ann.simAtLeast prunes candidates on the RAW cosine before the
    // BigDecimal-backed round(x, 6). The margin claim: Spark's round
    // (HALF_UP on the shortest decimal repr) moves a finite double by
    // at most 5e-7, so raw < thr − 1e-6 can never round to ≥ thr.
    // Pin it on a dense 1e-9 grid straddling the threshold:
    val thr = 0.45
    var k = -2000
    while (k <= 2000) {
      val x = thr + k * 1e-9
      val r = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      if (r >= thr) assert(x >= thr - 1e-6,
        s"x=$x rounds to $r yet sits below the prune bound")
      k += 1
    }
    // And the shipped pruned plan equals the unpruned round-then-
    // filter spec on the corpus (sf0.1 — the SF with surviving pairs).
    GraftSession(spark)
    val sf1 = sfSibling("sf0.1")
    val e = Tables.embeddings(spark, sf1)
      .withColumn("bucket", expr("graft_rademacher_bucket(embedding)"))
      .withColumn("nrm", sqrt(expr("graft_dot(embedding, embedding)")))
    val a = e.select(col("vec_id").as("x"), col("bucket"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("y"), col("bucket").as("bucket_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val spec = a.join(b, col("bucket") === col("bucket_b") && col("x") < col("y"))
      .select(col("x"), col("y"), col("bucket"),
        round(expr("graft_dot(ea, eb)") / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= thr)
    val shipped = llm.Ann.annLsh(spark, sf1)
    assert(shipped.count() > 0, "vacuity: no pairs survive at sf0.1")
    assert(shipped.exceptAll(spec).count() == 0 &&
      spec.exceptAll(shipped).count() == 0,
      "pruned pair search diverged from the round-first spec")
  }

  test("native rolling hash equals the interpreted HOF fold") {
    // RollHash is the fingerprint family's hash; the HOF text below is
    // the executable spec the DuckDB oracle also evaluates
    // (list_reduce over ascii(c)). Both multipliers, plus the
    // empty-string seed case.
    GraftSession(spark)
    val bad = Tables.documents(spark, sf)
      .select(col("text"))
      .unionAll(spark.sql("SELECT '' AS text"))
      .filter(
        expr(s"graft_rollhash(text, 31)") =!=
          expr(api.GraftOps.rollHashHof("text", 31)) ||
        expr(s"graft_rollhash(text, 131)") =!=
          expr(api.GraftOps.rollHashHof("text", 131)))
      .count()
    assert(bad == 0, s"$bad docs where native rollhash != HOF rollhash")
  }

  test("rollhash is per-CODE-POINT on non-ASCII — native ≡ Spark HOF ≡ spec") {
    // The r16 advice questioned the non-ASCII equivalence claim on the
    // grounds that Spark's ascii() returns the signed first UTF-8
    // byte. That is PRE-Spark-4 behavior: probed on this binary,
    // Spark 4.1's ascii('é') = 233 (the code point) and split(t, '')
    // keeps astral characters whole — so the native kernel, the
    // interpreted HOF arm, and an explicit code-point fold agree on
    // Latin-1, CJK, and surrogate-pair text alike (the DuckDB oracle
    // matches too, re-verified manually with BIGINT accumulators).
    // This pin extends the corpus-ASCII equality test to exactly those
    // classes, and fails loudly if a future Spark reverts ascii().
    GraftSession(spark)
    def spec(s: String, mult: Int): Long = {
      var h = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * mult + cp) % 2147483647L
        i += Character.charCount(cp)
      }
      h
    }
    val texts = Seq("é", "héllo wörld", "日本語 テスト",
      "astral 𝕊 pair", "🙂🙂", "mixed ascii ü end")
    import spark.implicits._
    val got = texts.toDF("text")
      .select(expr("graft_rollhash(text, 31)").as("h31"),
        expr("graft_rollhash(text, 131)").as("h131"),
        expr(api.GraftOps.rollHashHof("text", 31)).as("hof31"),
        expr(api.GraftOps.rollHashHof("text", 131)).as("hof131"))
      .collect()
    texts.zip(got).foreach { case (s, r) =>
      assert(r.getLong(0) == spec(s, 31) && r.getLong(1) == spec(s, 131),
        s"native rollhash != code-point spec on '$s'")
      assert(r.getLong(2) == spec(s, 31) && r.getLong(3) == spec(s, 131),
        s"Spark-HOF rollhash != code-point spec on '$s' — did Spark's " +
          "ascii() semantics change? rollHashEval's doc claims equivalence")
    }
  }

  test("native Rademacher bucket equals the interpreted HOF bucket") {
    GraftSession(spark)
    val bad = Tables.embeddings(spark, sf)
      .select(
        expr("graft_rademacher_bucket(embedding)").as("native"),
        expr(llm.Ann.bucketHofExpr).cast("long").as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(bad == 0, s"$bad vectors where native bucket != HOF bucket")
  }

  test("minhash bands are exactly the FNV fold of the raw slots") {
    // llm_near_dedup candidates (bands) and llm_minhash_est (slots)
    // must stay two views of ONE sketch — if the expressions drift the
    // estimate no longer describes the candidate generation. Also the
    // correctness ground of llm_ngram_jaccard's ingest-time slots: its
    // candidates come from graft_bands_from_slots over the persisted
    // char8 slot table, claimed bit-identical to graft_minhash_bands.
    GraftSession(spark)
    val rows = Tables.documents(spark, sf).limit(20)
      .select(
        expr("graft_minhash_slots(graft_wordshingle_hashes(text, 3))").as("sl"),
        expr("graft_minhash_bands(graft_wordshingle_hashes(text, 3))").as("bd"))
      .collect()
    rows.foreach { r =>
      val sl = r.getSeq[Long](0)
      val bd = r.getSeq[Long](1)
      val calc = (0 until 16).map { b =>
        var acc = 0xCBF29CE484222325L
        (0 until 4).foreach { j => acc = (acc ^ sl(b * 4 + j)) * 0x100000001B3L }
        acc
      }
      assert(bd.toSeq == calc, "bands != FNV fold of slots")
    }
  }

  test("native DoubleDot equals the interpreted aggregate/zip_with fold bit-for-bit") {
    GraftSession(spark)
    val bad = Tables.embeddings(spark, sf)
      .withColumn("ed", expr("transform(embedding, x -> cast(x as double))"))
      .crossJoin(Tables.embeddings(spark, sf).limit(3)
        .select(expr("transform(embedding, x -> cast(x as double))").as("ce")))
      .select(
        expr("graft_ddot(ed, ce)").as("native"),
        expr("aggregate(zip_with(ed, ce, (x, y) -> x * y), cast(0 as double), (acc, v) -> acc + v)").as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(bad == 0, s"$bad pairs where native ddot != HOF fold")
  }

  test("doc chunks cover every token and respect the window bound") {
    val chunks = llm.TextStats.docChunks(spark, sf).collect()
    val docTokens = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byDoc = chunks.groupBy(_.getLong(0))
    assert(byDoc.keySet == docTokens.keySet, "every doc must chunk")
    byDoc.foreach { case (doc, cs) =>
      val n = docTokens(doc)
      cs.foreach(c => assert(c.getLong(3) <= 40, "chunk exceeds window"))
      // stride-30 starts cover [0, n): last start <= n-1, window 40 > stride.
      assert(cs.length == (n + 29) / 30, s"doc $doc chunk count off")
      assert(cs.map(_.getLong(3)).sum >= n,
        s"doc $doc chunks cover fewer than n tokens (overlap makes sum >= n)")
    }
  }

  test("dedup components: labels are cluster minima and members of their cluster") {
    val comp = llm.Dedup.dedupComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byLabel = comp.groupBy(_._2)
    comp.foreach { case (v, l) => assert(l <= v, "label must be a minimum") }
    byLabel.foreach { case (l, members) =>
      assert(members.exists(_._1 == l), s"label $l not a member of its cluster")
    }
  }

  test("GraftOps API works over non-corpus column names") {
    // The corpus bindings all use doc_id/text/vec_id/embedding, so a
    // bug in the API's column threading would be invisible to the
    // oracle gate — this drives it with foreign names on synthetic
    // rows.
    GraftSession(spark)
    import spark.implicits._
    val docs = Seq(
      (100L, "a b c d e f g", "en"), (101L, "a b c d e f g", "en"),
      (102L, "x y z w v u t", "de"), (103L, "p q r s", "de"),
      (104L, "m n o", "en"), (105L, "k l", "en"),
      (106L, "h i j", "de"), (107L, "c b a", "en"),
      (108L, "t u v", "de"), (109L, "d e f", "en")
    ).toDF("docno", "body", "tongue")
    val dedup = api.GraftOps.exactDedup(docs, "docno", "body").collect()
    assert(dedup.length == 9, "two identical bodies must collapse")
    assert(dedup.exists(r => r.getLong(1) == 100L && r.getLong(2) == 2L))
    val chunks = api.GraftOps.tokenChunks(docs, "docno", "body", 3, 2)
    assert(chunks.filter(col("doc_id") === 100L).count() == 4,
      "7 tokens at stride 2, window 3 -> starts 0,2,4,6")
    val samp = api.GraftOps.stratifiedSample(docs, "tongue", "docno", 2)
    val bySeg = samp.groupBy("tongue").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySeg == Map("en" -> 3L, "de" -> 2L),
      s"floor(1/2) per stratum of 6 en / 4 de, got $bySeg")
    val vecs = Seq(
      (7L, Array(1.0f, 0.0f)), (8L, Array(1.0f, 0.01f)),
      (9L, Array(0.0f, 1.0f))
    ).toDF("vid", "emb")
    val pairs = api.GraftOps.cosineNearDup(vecs, "vid", "emb", 0.9).collect()
    assert(pairs.length == 1 && pairs(0).getLong(0) == 7L
      && pairs(0).getLong(1) == 8L, "only (7,8) are near-parallel")
    // The r17 tokenization-shortcut rewrites thread the text column
    // through interpolated SQL (replace/limit-split) — drive them with
    // the foreign name too.
    val rep = api.GraftOps.repetitionRatio(docs, "docno", "body", 2)
      .filter(col("doc_id") === 100L).collect()
    assert(rep.length == 1 && rep(0).getLong(1) == 6L
      && rep(0).getLong(3) == 0L,
      s"7 tokens -> 6 bigrams, all distinct -> rep_milli 0: ${rep.toSeq}")
    val ng = api.GraftOps.ngramCounts(docs, "body", 2, 2).collect()
    assert(ng.exists(r => r.getString(0) == "a b" && r.getLong(1) == 2L),
      s"'a b' occurs in both duplicate bodies: ${ng.toSeq}")
    assert(api.GraftOps.pmiBigrams(docs, "body", 1, 5).count() == 5,
      "pmi top-5 over foreign-named text")
  }

  test("GraftOps operators tolerate input columns named like internals") {
    // The implementations' helper columns are _graft_-prefixed; inputs
    // that already carry the ordinary names they once used (rn, cnt, h,
    // s, j, n, toks, vs) must not collide or shadow (r4 verdict #4).
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g", "en", 7, 7, 7, "x", Seq("q"), 7),
      (2L, "a b c d e f g", "en", 7, 7, 7, "x", Seq("q"), 7),
      (3L, "h i j k", "de", 7, 7, 7, "x", Seq("q"), 7),
      (4L, "l m n o p", "de", 7, 7, 7, "x", Seq("q"), 7)
    ).toDF("docno", "body", "tongue", "rn", "cnt", "h", "s", "toks", "n")
    assert(api.GraftOps.exactDedup(docs, "docno", "body").count() == 3)
    assert(api.GraftOps.tokenChunks(docs, "docno", "body", 3, 2)
      .filter(col("doc_id") === 1L).count() == 4)
    assert(api.GraftOps.tfidfTopTerms(docs, "docno", "body", 2)
      .filter(col("doc_id") === 3L).count() == 2)
    val samp = api.GraftOps.stratifiedSample(docs, "tongue", "docno", 2)
    assert(samp.count() == 2)
    assert(samp.columns.toSeq == docs.columns.toSeq,
      "sample must return the input schema unchanged")
    GraftSession(spark)
    val vecs = Seq(
      (7L, Array(1.0f, 0.0f), 1, Seq(1), 1),
      (8L, Array(1.0f, 0.01f), 1, Seq(1), 1),
      (9L, Array(0.0f, 1.0f), 1, Seq(1), 1)
    ).toDF("vid", "emb", "j", "vs", "rn")
    val pairs = api.GraftOps.cosineNearDup(vecs, "vid", "emb", 0.9).collect()
    assert(pairs.length == 1 && pairs(0).getLong(0) == 7L
      && pairs(0).getLong(1) == 8L)
    assert(api.GraftOps.cosineTopK(vecs, "vid", "emb", 1).count() == 3)
    // SimHash family on the same colliding-name frame: the two
    // identical bodies are Hamming-0 partners; fingerprint dedup
    // collapses them to one keeper group.
    val sh = api.GraftOps.simhashNearDup(docs, "docno", "body").collect()
    assert(sh.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L
      && r.getLong(2) == 0L), s"identical bodies not Hamming-0: ${sh.toSeq}")
    assert(api.GraftOps.fingerprintDedup(docs, "docno", "body")
      .count() == 3)
    // Quality/decontamination family: distinct token streams have
    // zero repetition; a doc IS its own benchmark (full overlap).
    val rep = api.GraftOps.repetitionRatio(docs, "docno", "body", 2)
      .filter(col("doc_id") === 1L).head()
    assert(rep.getLong(1) == 6L && rep.getLong(2) == 6L
      && rep.getLong(3) == 0L, s"unexpected repetition row: $rep")
    val ov = api.GraftOps.shingleOverlap(
        docs, "docno", "body", docs.filter(col("docno") === 1L),
        "docno", "body", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(ov(1L) == 1000L && ov(2L) == 1000L,
      s"identical/self docs must be fully contaminated: $ov")
    assert(ov(3L) == 0L, s"disjoint doc must have zero overlap: $ov")
    // n-gram counts on the colliding frame: docs 1/2 are identical, so
    // each of their 6 bigrams occurs exactly twice; docs 3/4 contribute
    // singletons only.
    val ng = api.GraftOps.ngramCounts(docs, "body", 2, 2L).collect()
    assert(ng.length == 6 && ng.forall(_.getLong(1) == 2L),
      s"expected 6 bigrams of count 2: ${ng.toSeq}")
    // Graph API on a frame whose columns are named like the cores'
    // internals (x, y, u, v, dg, n, pr) AND whose src/dst args ARE
    // two of those names: a triangle 1-2-3 plus a pendant 4, handed
    // over messy (duplicates, reversed direction, a self-loop).
    val gEdges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L),
        (4L, 4L)).toDF("dg", "u")
      .withColumn("x", lit(9)).withColumn("y", lit(9))
      .withColumn("v", lit(9)).withColumn("n", lit(9))
      .withColumn("pr", lit(9))
    val gc = api.GraftOps.triangleCensus(gEdges, "dg", "u").head()
    assert(gc.getLong(0) == 4 && gc.getLong(2) == 1,
      s"triangle+pendant census: $gc")
    val gpr = api.GraftOps.pageRank(gEdges, "dg", "u").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gpr.size == 4 && gpr(3L) > gpr(1L) && gpr(1L) == gpr(2L)
      && gpr(3L) > gpr(4L), s"degree-3 node must outrank: $gpr")
    // LangId fit/assign on the colliding frame ("toks" is both an
    // input column and the fit's former helper name): every doc's
    // tokens are exact markers of its own language, so the argmax
    // recovers the label for all 4 docs; passing the label column as
    // the carried column yields confusion rows directly.
    val mkModel = api.GraftOps.langMarkersFit(docs, "tongue", "body", 20)
    assert(mkModel.map(_._1) == Seq("de", "en"),
      s"model must be lang-sorted: ${mkModel.map(_._1)}")
    val cm = api.GraftOps.langIdAssign(docs, "tongue", "body", mkModel)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(cm.length == 4 && cm.forall(p => p._1 == p._2),
      s"self-markers must classify perfectly: ${cm.toSeq}")
    // Quality gate on the colliding frame: all docs are unrepetitive
    // and stopword-free, so with a stopword floor of 0 only the token
    // bound bites — docs 3 (4 toks) and 4 (5 toks) fail bit 0.
    val qg = api.GraftOps.qualityGate(docs, "docno", "body",
        minTok = 5L, maxTok = 10L, maxRepMilli = 500L, minStopMilli = 0L,
        stopwords = Seq("zz"))
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(qg(1L) == (0L, true) && qg(3L) == (1L, false)
      && qg(4L) == (0L, true), s"unexpected gate rows: $qg")
  }

  test("GraftOps ivfFit/ivfAssign: fit once, assign many, foreign columns") {
    // Two orthogonal clusters (even ids ~ x-axis, odd ids ~ y-axis);
    // the hash-sampled k=2 init picks vid 0 (even) and vid 13 (odd),
    // so two Lloyd rounds must separate the clusters exactly.
    GraftSession(spark)
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      val noise = i * 0.001f
      if (i % 2 == 0) (i.toLong, Array(1.0f, 0.0f, noise))
      else (i.toLong, Array(0.0f, 1.0f, noise))
    }.toDF("vid", "emb")
    val cents = api.GraftOps.ivfFit(vecs, "vid", "emb", 2, 2)
    assert(cents.count() == 2)
    val assigned = api.GraftOps.ivfAssign(vecs, "vid", "emb", cents, 1)
    assert(assigned.columns.toSeq == Seq("vid", "cell"))
    val byParity = assigned.collect()
      .groupBy(_.getLong(0) % 2).view.mapValues(_.map(_.getLong(1)).toSet)
    assert(byParity(0L).size == 1 && byParity(1L).size == 1
      && byParity(0L) != byParity(1L),
      s"clusters not separated: $byParity")
    // 2 probes = every vector appears in both cells.
    assert(api.GraftOps.ivfAssign(vecs, "vid", "emb", cents, 2).count() == 40)
  }

  test("GraftOps ewma/zscoreOutliers: foreign columns, hand-checked values") {
    import spark.implicits._
    val m = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 40L),
      ("b", 1L, 5L), ("b", 2L, 5L)
    ).toDF("sensor", "tick", "reading")
    val e = api.GraftOps.ewma(m, "sensor", Seq("tick"), "reading", depth = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    // depth 3 -> weights 4,2,1: a@3 = 40*4 + 20*2 + 10*1 = 210.
    assert(e(("a", 3L)) == 210L && e(("a", 1L)) == 40L && e(("b", 2L)) == 30L)

    // One key with a blatant outlier, one without. A single spike
    // among n−1 equal values has |z| = sqrt(n−1) exactly, so n must
    // exceed 10 for the 3-sigma test to fire (n=12 -> z ≈ 3.32).
    val vals = (Seq.fill(11)(10L) :+ 1000L).zipWithIndex
      .map { case (v, i) => ("hot", i.toLong, v) } ++
      (0 until 10).map(i => ("cold", i.toLong, 10L + (i % 2)))
    val z = api.GraftOps.zscoreOutliers(vals.toDF("sensor", "tick", "reading"),
      "sensor", "reading")
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.get(3))).toMap
    assert(z("hot")._1 == 1L && z("hot")._2 == 1000L,
      "the planted spike must be the only hot outlier")
    assert(z("cold")._1 == 0L && z("cold")._2 == null,
      "a ±0.5 alternation has no 3-sigma outliers")
  }

  test("GraftExtensions injects the native functions at session build") {
    // A session built with the extension (the spark.sql.extensions
    // deployment path) must resolve graft_* SQL functions with no
    // per-session register() call. Reuses the shared SparkContext;
    // active/default are restored so other suites are unaffected.
    import org.apache.spark.sql.SparkSession
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions).getOrCreate()
      assert(s2 ne prev, "expected a fresh session over the shared context")
      val d = s2.sql(
        "SELECT graft_dot(array(cast(2.0 as float)), array(cast(3.0 as float)))")
        .head().getDouble(0)
      assert(d == 6.0)
      assert(s2.sql("SELECT graft_simhash62('a b')").count() == 1)
      val mg = s2.sql("SELECT graft_misra_gries(x, 2) FROM VALUES ('a'), ('a'), ('b') AS t(x)")
        .head().getMap[String, Long](0)
      assert(mg.toMap == Map("a" -> 2L, "b" -> 1L))
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("custom-state sessionizer emits a session ending exactly on the watermark") {
    // Event-time timeouts fire only when the registered timestamp is
    // STRICTLY below the watermark, while the emit rule is
    // s_end <= watermark — a session ending exactly on the final
    // watermark millisecond probes the boundary (the naive
    // ceil(end) registration silently dropped it). User 1's session
    // ends at t0+35min; user 2's single event at t0+45min drives the
    // final watermark to exactly that instant (45−10 min).
    import spark.implicits._
    val t0 = 1700000000000000000L // ns, ms-aligned
    val min = 60L * 1000000000L
    val rows = Seq(
      (1L, t0, 1L, "c", 1.0, "{}"),
      (2L, t0 + 5 * min, 1L, "c", 1.0, "{}"),
      (3L, t0 + 45 * min, 2L, "c", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = Tables.scratchDir("graft_wmtest_")
    val stage = dir.resolve("stage").toString
    rows.repartition(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, dir.resolve("events.parquet"))
    val out = streaming.StreamDemo.customSessionStream(spark, dir.toString)
      .collect()
    assert(out.length == 1, s"expected exactly user 1's session, got ${out.toSeq}")
    assert(out(0).getLong(0) == 1L && out(0).getLong(3) == 2L)
    val endMs = out(0).getAs[java.time.LocalDateTime](2)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    assert(endMs == (t0 + 35 * min) / 1000000L,
      "session end must be exactly the watermark instant")
  }

  test("jaccard is symmetric-free (x < y) and bounded") {
    val pairs = llm.Dedup.nearDedup(spark, sf).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(5)
      assert(j >= 0.9 && j <= 1.0)
    }
  }

  test("seqPack: packs are contiguous per shard and budget-consistent") {
    val packed = llm.Curation.seqPack(spark, sf).collect()
    packed.groupBy(_.getString(0)).foreach { case (src, rows) =>
      var cum = 0L
      rows.sortBy(_.getLong(1)).foreach { r =>
        assert(r.getLong(3) == cum, s"$src cum_before mismatch")
        assert(r.getLong(4) == cum / 512, s"$src pack_id mismatch")
        cum += r.getLong(2)
      }
    }
  }

  test("mixBudget: kept tokens bounded by budget + one overflow doc") {
    val mix = llm.Curation.mixBudget(spark, sf).collect()
    val maxTok = Tables.documents(spark, sf)
      .select(max(size(split(col("text"), " ")))).head().getInt(0)
    mix.foreach { r =>
      val (kept, avail) = (r.getLong(2), r.getLong(3))
      assert(kept <= avail)
      assert(r.getLong(1) >= 1, "every non-empty source contributes")
      assert(kept < 2000L + maxTok || kept == avail,
        s"source ${r.getString(0)} kept $kept >= budget+maxdoc")
    }
  }

  test("weightedSample is deterministic and caps at full keep") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, i % 500)).toDF("k", "wt")
    val a = api.GraftOps.weightedSample(df, "k", "wt", 500L).collect()
    val b = api.GraftOps.weightedSample(df, "k", "wt", 500L).collect()
    assert(a.toSeq == b.toSeq, "same input must sample identically")
    val rate = a.length / 1000.0
    // w = k % 500 over 1..1000 has mean ~250 on cap 500 -> E ~ 0.5
    assert(rate > 0.4 && rate < 0.6, s"rate $rate implausible")
  }

  test("redact leaves no pattern match behind and counts every hit") {
    import spark.implicits._
    val df = Seq((1L, "foo bar foo"), (2L, "baz"), (3L, "foofoo"))
      .toDF("k", "body")
    val red = api.GraftOps.redact(df, "k", "body", "foo", "[X]")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(red.toSeq == Seq((1L, 2L, "[X] bar [X]"), (2L, 0L, "baz"),
      (3L, 2L, "[X][X]")))
  }

  test("histogram buckets partition the rows; mode dominates its group") {
    val h = operators.Aggregates.aggHistogram(spark, sf).collect()
    assert(h.map(_.getLong(3)).sum == Tables.orders(spark, sf).count())
    assert(h.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 9))
    val modes = operators.Aggregates.aggMode(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val counts = Tables.customer(spark, sf)
      .groupBy(col("c_mktsegment"), col("c_nationkey")).count()
      .groupBy(col("c_mktsegment")).agg(max(col("count")).as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(modes == counts, "mode count must equal the max group count")
  }

  test("upsert merge: every key once, delta wins exactly on overlap") {
    val m = operators.Scans.scanUpsertMerge(spark, sf)
    assert(m.count() == m.select("o_orderkey").distinct().count())
    // gen 2 rows are exactly the delta keys (3 | k), incl. inserts of
    // keys absent from base (21 | k is still present — delta wins).
    val badGen = m.filter(
      (col("o_orderkey") % 3 === 0 && col("gen") =!= 2L) ||
        (col("o_orderkey") % 3 =!= 0 && col("gen") =!= 1L)).count()
    assert(badGen == 0)
  }

  test("islands are disjoint, consecutive, and cover all active days") {
    val isl = operators.Windows.winIslands(spark, sf).collect()
    val activeDays = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts2"))).distinct().count()
    assert(isl.map(_.getLong(3)).sum == activeDays,
      "island day counts must cover every active (user, day)")
    isl.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getDate(1).toLocalDate.toEpochDay)
      sorted.foreach { r =>
        val span = r.getDate(2).toLocalDate.toEpochDay -
          r.getDate(1).toLocalDate.toEpochDay + 1
        assert(span == r.getLong(3), "island must be gap-free")
      }
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getDate(1).toLocalDate.toEpochDay >
            a.getDate(2).toLocalDate.toEpochDay + 1,
            "adjacent islands must be separated by a gap")
        case _ =>
      }
    }
  }

  test("throttle caps every (user, hour) at 3 and keeps the earliest") {
    val t = streaming.Events.evThrottle(spark, sf)
    val over = t.groupBy("user_id", "hour").count()
      .filter(col("count") > 3).count()
    assert(over == 0)
    assert(t.filter(col("rn") < 1 || col("rn") > 3).count() == 0)
  }

  test("int8 quantization bounds and sign-preserves; dequant error <= scale/2") {
    import spark.implicits._
    val vecs = Seq((1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("vid", "emb")
    val q = api.GraftOps.quantizeInt8(vecs, "vid", "emb").collect()
    val r1 = q.find(_.getLong(0) == 1L).get
    val vals = r1.getString(2).split('|').map(_.toLong)
    assert(vals.toSeq == Seq(64L, -127L, 32L))
    assert(math.abs(r1.getFloat(1) - 1.0f / 127f) < 1e-7)
    val r2 = q.find(_.getLong(0) == 2L).get
    assert(r2.getString(2) == "0|0|0" && r2.getFloat(1) == 0.0f)
  }

  test("custom top-k equals the window top-k row-for-row on the corpus") {
    val native = operators.Windows.winTopkNative(spark, sf).collect()
    val window = operators.Windows.winTopkPerGroup(spark, sf).collect()
    assert(native.toSeq == window.toSeq,
      "heap exec must reproduce exact window semantics incl. ranks")
  }

  test("topKPerKey API: foreign columns, k > group size, determinism") {
    import spark.implicits._
    val df = Seq((1L, 10L, 5.0), (1L, 11L, 9.0), (1L, 12L, 9.0),
      (2L, 20L, 1.0)).toDF("grp", "item", "score")
    val r = api.GraftOps.topKPerKey(df, Seq("grp"), "score", "item", 2)
      .orderBy("grp", "rn").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(3)))
    // score ties broken by item asc; group 2 has fewer than k rows.
    assert(r.toSeq == Seq((1L, 11L, 1L), (1L, 12L, 2L), (2L, 20L, 1L)))
    val again = api.GraftOps.topKPerKey(df, Seq("grp"), "score", "item", 2)
      .orderBy("grp", "rn").collect()
    assert(again.map(x => (x.getLong(0), x.getLong(1), x.getLong(3))).toSeq
      == r.toSeq)
  }

  test("keyed-analytics APIs work over foreign column names") {
    import spark.implicits._
    val ev = Seq(
      (10L, "open", 1000L), (10L, "pay", 2000L), (10L, "open", 3000L),
      (11L, "pay", 500L), (11L, "open", 600L),
      (12L, "open", 100L)
    ).toDF("acct", "kind", "tick")
    val f = api.GraftOps.funnel(ev, "acct", "kind", "tick",
      Seq("open", "pay")).head()
    // acct 10 converts (pay after open); 11's pay precedes its open.
    assert((f.getLong(0), f.getLong(1), f.getLong(2)) == ((3L, 3L, 1L)))
    val lim = api.GraftOps.rateLimit(ev, Seq("acct"), Seq("tick"), 1, "pos")
    assert(lim.count() == 3 && lim.filter(col("pos") =!= 1L).count() == 0)
    val lw = api.GraftOps.latestWins(
      ev.withColumn("ver", col("tick")), "acct", "ver")
    assert(lw.count() == 3 &&
      lw.filter(col("acct") === 10L).head().getLong(2) == 3000L)
    val isl = api.GraftOps.islands(
      Seq((1L, "2026-01-01"), (1L, "2026-01-02"), (1L, "2026-01-05"))
        .toDF("k", "d").select(col("k"), col("d").cast("date").as("d")),
      "k", "d")
    assert(isl.count() == 2 &&
      isl.head().getLong(3) == 2L, "run of 2 days + singleton")
    val ret = api.GraftOps.retentionMatrix(
      Seq((1L, "2026-01-01"), (1L, "2026-01-03"), (2L, "2026-01-03"))
        .toDF("u", "d").select(col("u"), col("d").cast("date").as("d")),
      "u", "d")
    val cells = ret.collect().map(r =>
      (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(cells == Set(("2026-01-01", 0L, 1L), ("2026-01-01", 2L, 1L),
      ("2026-01-03", 0L, 1L)))
  }

  test("funnel depths are monotone and bounded by the user count") {
    val r = streaming.Events.evFunnel(spark, sf).head()
    val (n, v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n >= v && v >= c && c >= p && p >= 0,
      s"funnel $n >= $v >= $c >= $p violated")
  }

  test("retention: offset-0 cell equals the cohort size, matrix covers all activity") {
    val m = streaming.Events.evRetentionCohort(spark, sf).collect()
    val cohortSizes = m.filter(_.getLong(1) == 0L)
      .map(r => r.getDate(0) -> r.getLong(2)).toMap
    // every user is active on their own cohort day, so each cohort's
    // offset-0 count is the cohort's full population: no later offset
    // can exceed it.
    m.foreach { r =>
      assert(r.getLong(2) <= cohortSizes(r.getDate(0)),
        s"offset ${r.getLong(1)} exceeds cohort ${r.getDate(0)}")
    }
    val total = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts2"))).distinct().count()
    assert(m.map(_.getLong(2)).sum == total,
      "matrix cells must partition the distinct (user, day) activity")
  }

  test("bag identity: INTERSECT ALL + EXCEPT ALL partitions the bag") {
    // B (urgent orders) is a sub-bag of A (all orders), so
    // |A ∩all B| + |A \all B| == |A|.
    val inter = operators.SortSet.setIntersectAll(spark, sf).count()
    val exc = operators.SortSet.setExceptAll(spark, sf).count()
    assert(inter + exc == Tables.orders(spark, sf).count())
  }

  test("star components converge on a diameter-6 chain (fixed rounds could not)") {
    import spark.implicits._
    // Chain 10-11-…-16 (diameter 6), a triangle with an out-of-order
    // edge list, and a lone pair. The r5 fixed-3-round label
    // propagation could NOT label vertex 16 with 10 (distance 6); the
    // alternating-star engine must, in O(log n) supersteps.
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), (15L, 16L),
      (31L, 30L), (32L, 31L), (30L, 32L),
      (41L, 40L)).toDF("x", "y")
    val got = llm.Dedup.componentsOf(spark, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (10L to 16L).map(_ -> 10L).toMap ++
      (30L to 32L).map(_ -> 30L) ++ Map(40L -> 40L, 41L -> 40L)
    assert(got == want, s"star components wrong: $got")
  }

  test("simhash band-bucket cap preserves exactness on a low-entropy corpus") {
    import spark.implicits._
    // Adversarial low-entropy shard: every doc is a tiny perturbation
    // of one base sentence, so fingerprints collide on most bands and
    // the uncapped band buckets hold nearly the whole corpus — the
    // scale cliff the cap guards. With cap=4 every oversized bucket
    // goes through the sub-band path; by pigeonhole the result must
    // still equal the brute-force Hamming-<=3 pair set.
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    val docs = (0L until 48L)
      .map(i => (i, if (i % 3 == 0) base else base + s" tail${i % 5}"))
      .toDF("doc_id", "text")
    val capped = graft.api.GraftOps
      .simhashNearDup(docs, "doc_id", "text", bandBucketCap = 4)
      .select("x", "y", "ham").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fps = graft.api.GraftOps.simhash(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      a <- fps; b <- fps if a._1 < b._1
      ham = java.lang.Long.bitCount(a._2 ^ b._2) +
        java.lang.Long.bitCount(a._3 ^ b._3)
      if ham <= 3
    } yield (a._1, b._1, ham.toLong)).toSet
    assert(brute.nonEmpty, "adversarial corpus must produce near-dups")
    assert(capped == brute, "capped banding must equal brute-force pairs")
  }

  test("order-independence: FP-disciplined queries agree across partitionings") {
    // The D2/D8 discipline claims every output is a pure function of
    // the data, independent of partial-aggregation order. Re-running
    // with a different shuffle-partition count permutes every partial
    // merge; the collected results must be IDENTICAL — this is the
    // in-repo version of what the cross-engine oracle checks, aimed at
    // the queries whose outputs pass through quantized transcendentals
    // (entropy, PMI, PageRank) or FLOAT-narrowed moment algebra.
    val names = Seq("agg_skew_kurt", "agg_corr", "llm_pmi_bigrams",
      "llm_token_entropy", "graph_pagerank", "ev_markov_transition",
      "win_ewma")
    def runWith(n: String, parts: String): Seq[String] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try SparkEntry.queries(n)(spark, sf01).collect().map(_.toString).toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    for (n <- names) {
      assert(runWith(n, "7") == runWith(n, "23"),
        s"$n output depends on the partitioning")
    }
  }

  test("misra-gries native aggregate: guarantee holds under many-partition merge") {
    import org.apache.spark.sql.functions._
    GraftSession(spark)
    // Adversarial mix: 2 true heavies (40% + 25%) over a 100-item cold
    // tail, shuffled across 17 partitions so partial summaries merge in
    // arbitrary order; k = 4 (far smaller than the 102-item domain).
    val n = 20000
    val rows = spark.range(n).selectExpr(
      """CASE WHEN id % 20 < 8 THEN 'hot1'
              WHEN id % 20 < 13 THEN 'hot2'
              ELSE concat('cold', CAST(hash(id) % 100 AS STRING)) END AS item""")
      .repartition(17)
    val r = rows.agg(expr("graft_misra_gries(item, 4)").as("mg")).head()
    val mg = r.getMap[String, Long](0)
    val exact = rows.groupBy("item").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val thresh = n / 5.0 // n/(k+1)
    for ((item, cnt) <- exact if cnt > thresh) {
      assert(mg.contains(item), s"true heavy hitter $item missing from sketch")
    }
    for ((item, est) <- mg) {
      val cnt = exact(item)
      assert(est <= cnt, s"$item overestimated: $est > $cnt")
      assert(est >= cnt - thresh, s"$item below MG bound: $est < $cnt - $thresh")
    }
    assert(mg.size <= 4, "summary exceeded k entries")
  }

  test("star contraction converges on a diameter-8 path within MaxRounds") {
    // A path graph is the adversarial case for large-star/small-star:
    // component minima propagate one hop per superstep at worst, so a
    // long chain exercises the O(log n) round bound the engine claims.
    // A disjoint 2-clique rides along to pin multi-component labeling.
    import spark.implicits._
    val path = (0L until 8L).map(i => (i, i + 1))
    val pairs = (path :+ (100L, 101L)).toDF("x", "y")
    val comp = llm.Dedup.componentsOf(spark, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 8L).forall(comp(_) == 0L),
      s"path vertices must all label to the minimum: $comp")
    assert(comp(100L) == 100L && comp(101L) == 100L)
    assert(comp.size == 11)
  }

  test("count-min probe deserializes once per distinct sketch payload") {
    import org.apache.spark.util.sketch.CountMinSketch
    def bytes(seed: Int): Array[Byte] = {
      val sk = CountMinSketch.create(0.001, 0.99, seed)
      Seq("a", "b", "c").foreach(sk.add)
      val bos = new java.io.ByteArrayOutputStream()
      sk.writeTo(bos)
      bos.toByteArray
    }
    val probe = new operators.Aggregates.CmsProbe()
    val p1 = bytes(42)
    val p1copy = p1.clone() // same content, different instance
    val p2 = bytes(7)
    probe(p1, "a"); probe(p1, "b"); probe(p1, "c")
    assert(probe.deserCount == 1, "same instance must not re-deserialize")
    probe(p1copy, "a")
    assert(probe.deserCount == 1, "equal content must not re-deserialize")
    val est = probe(p2, "a")
    assert(probe.deserCount == 2, "new payload must re-deserialize")
    assert(est >= 1L, "estimate must never undercount")
  }

  test("FitOnce runs a contended fill exactly once and blocks racers on it") {
    // The cache guards superstep loops, k-means trains and gate
    // counts: two concurrent first callers must not both pay the fill
    // (the duplicated cost is exactly what the cache exists to avoid,
    // and the r7 TrieMap.getOrElseUpdate version did duplicate it).
    val cache = new FitOnce[String, Int]
    val fills = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            start.await()
            cache("k") { fills.incrementAndGet(); Thread.sleep(50); 42 }
          }
        })
      }
      start.countDown()
      assert(tasks.map(_.get()).toSet == Set(42),
        "every racer must observe the single fill's value")
      assert(fills.get() == 1, s"fill ran ${fills.get()} times, not once")
      // Distinct keys still fill independently.
      assert(cache("k2") { 7 } == 7 && fills.get() == 1)
    } finally pool.shutdown()
  }
  test("crossover salt: every 3-gram differs across copies, vocabulary diversity kept") {
    // The ×N corpus is a measuring instrument; a wrong salt produced
    // two measured artifacts (near-dup pair blowup ×45; simhash band
    // collapse 0.3 → 127 s). These invariants pin the fixed transform
    // — java.util.regex shares semantics with Spark's regexp_replace,
    // so the literal pattern is exercised.
    import graft.tools.CrossoverProbe.{SaltPattern, saltReplacement}
    // replaceAll treats $1/$2 in the replacement as group refs, same
    // as Spark's regexp_replace — saltReplacement is used verbatim.
    def salt(t: String, i: Int): String =
      t.replaceAll(SaltPattern, saltReplacement(i))
    val text = (1 to 12).map(k => s"tok$k").mkString(" ") + " "
    val s1 = salt(text, 1); val s2 = salt(text, 2)
    def grams(t: String): Set[Seq[String]] =
      t.trim.split("\\s+").toSeq.sliding(3).map(_.toSeq).toSet
    // every 3 consecutive words of a salted copy contain a salted word
    s1.trim.split("\\s+").toSeq.sliding(3).foreach { w =>
      assert(w.exists(_.endsWith("c1")), s"unsalted window $w in $s1")
    }
    // cross-copy and base-vs-copy shingle sets are fully disjoint
    assert((grams(s1) intersect grams(s2)).isEmpty, "copies share 3-grams")
    assert((grams(s1) intersect grams(text)).isEmpty, "copy shares 3-grams with base")
    // identical texts salt identically — planted dups stay dups
    assert(salt(text, 3) == salt(text, 3))
    // vocabulary stays diverse: salted tokens inherit the base word
    val salted = s1.trim.split("\\s+").filter(_.endsWith("c1"))
    assert(salted.distinct.length == salted.length,
      "salt must not collapse distinct words onto one token")
  }

  test("crossover salt re-derives n_chars from the salted text (r14 verdict #4)") {
    // The ×N corpus is a load-bearing instrument and ScaleSweep times
    // n_chars consumers (llm_lang_filter, llm_quality_gate) over it —
    // a salted copy carrying the BASE corpus's lengths would compute
    // their ×N ratios on stale values. Pin: on a salted sample of the
    // real documents table, n_chars == length(text) exactly, and the
    // column keeps its physical type.
    import org.apache.spark.sql.functions.{col, length}
    val docs = Tables.documents(spark, sf).limit(50)
    val salted = graft.tools.CrossoverProbe.saltDocs(docs, 3)
    assert(salted.schema("n_chars").dataType == docs.schema("n_chars").dataType,
      "salting must not widen/narrow the n_chars column type")
    val wrong = salted.filter(col("n_chars") =!= length(col("text"))).count()
    assert(wrong == 0, s"$wrong salted rows carry stale n_chars")
    // and the salt really changed the text (the guard is armed)
    val changed = salted.select("text").collect().map(_.getString(0)).toSet !=
      docs.select("text").collect().map(_.getString(0)).toSet
    assert(changed, "salt sample left every text unchanged — the pin is unarmed")
  }

  test("tokenization shortcuts ≡ full-split semantics on adversarial strings") {
    // r17 replaced full tokenizations with two shortcuts, both
    // load-bearing for the n-gram family's correctness:
    //   (a) filter: size(split(t, ' ', n)) >= n  ⟺  size(split(t)) >= n
    //       (a limit-n split has size n exactly when t has ≥ n-1
    //        single-space separators)
    //   (b) count:  length(t) − length(replace(t, ' ', '')) + 1
    //        ≡ size(split(t, ' ', -1))  (split keeps empty segments,
    //        so tokens = spaces + 1)
    // The oracle corpus is well-formed prose; this pin locks the
    // equivalences on the degenerate shapes prose never exercises.
    import spark.implicits._
    val adversarial = Seq(
      "", " ", "  ", "a", "a b", " a", "a ", " a b  c ", "a  b",
      "     ", "word", "a b c d e", "\ta\tb", "é ü", "日本 語",
      "🙂 🙂 🙂", "a\nb c", "  leading and trailing  ")
    for (n <- Seq(2, 3, 5)) {
      val bad = adversarial.toDF("t").filter(
        (size(split(col("t"), " ", n)) >= n) =!=
          (size(split(col("t"), " ")) >= n)).count()
      assert(bad == 0, s"limit-$n split filter diverges from full split")
    }
    val badCnt = adversarial.toDF("t").filter(
      (length(col("t")) - length(expr("replace(t, ' ', '')")) + 1) =!=
        size(split(col("t"), " "))).count()
    assert(badCnt == 0, "length-diff token count diverges from size(split)")
  }


  test("JSON field kernel equals get_json_object row for row (eval and codegen)") {
    // The kernel answers top-level `$.name` lookups from the bytes and
    // hands every document outside its grammar to Spark's evaluator.
    // Both the fast path and the hand-off must give Spark's answer:
    // checked on every fixture `events.props` value and on 12k
    // generated documents built to hit each fallback class, through
    // interpreted eval and through a compiled projection.
    import java.nio.charset.StandardCharsets.UTF_8
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GetJsonObject, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.functions.JsonField

    val fixtures = Seq("sf0.001", "sf0.01", "sf0.1").map(sfSibling)
      .filter(d => java.nio.file.Files.exists(java.nio.file.Paths.get(d, "events.parquet")))
    assert(fixtures.nonEmpty, "no events fixture found")
    val corpus: Seq[Array[Byte]] = fixtures.flatMap(d =>
      Tables.events(spark, d).select("props").collect().map(_.getString(0).getBytes(UTF_8)))

    // Generated documents: objects whose keys and values are drawn from
    // the fast-path grammar and from every class it refuses, then
    // optionally damaged at the byte level.
    def q(s: String) = "\"" + s + "\""
    val ws = Gen.oneOf("", "", " ", "  ", "\t", "\n", "\r\n")
    val plainChars = (0x20 to 0x7e).map(_.toChar).filter(c => c != '"' && c != '\\')
    val plainStr = Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf(plainChars))).map(_.mkString)
    val canonInt = Gen.oneOf(Gen.choose(-300L, 300L),
      Gen.choose(-999999999999999999L, 999999999999999999L)).map(_.toString)
    val oddNumber = Gen.oneOf("-0", "007", "-007", "00", "0.0", "1e3", "1E3", "1e-3",
      "1.50", "1.5", "-1.0", "+1", ".5", "1.", "-", "1000000000000000000",
      "9223372036854775807", "9223372036854775808", "-9223372036854775808",
      "-9223372036854775809", "12345678901234567890123", "NaN", "Infinity")
    val literal = Gen.oneOf("true", "false", "null", "nul", "True")
    val escaped = Gen.oneOf("\"a\\\"b\"", "\"\\u0041\"", "\"\\u00e9\"", "\"\\ud83d\\ude00\"",
      "\"\\n\"", "\"\\\\\"", "\"\\/\"", "\"\\x\"", "\"\\u12\"")
    val singleQuoted = Gen.oneOf("'v'", "'it\\'s'", "''", "'7'")
    val nonAscii = Gen.oneOf("\"é\"", "\"日本\"", "\"\uD83D\uDE00\"", "\"a\u00a0b\"")
    val control = Gen.oneOf("\"a\u0001b\"", "\"\tx\"", "\"\u0000\"", "\"a\nb\"", "\"\u007f\"")
    val nested = Gen.oneOf("{}", "[]", "[1,2]", "{\"k\":1}", "{\"a\":[1,{\"k\":2}]}",
      "[\"k\"]", "{\"k\":{\"k\":\"v\"}}")
    val value = Gen.frequency(6 -> plainStr.map(q), 6 -> canonInt, 2 -> oddNumber,
      1 -> literal, 1 -> escaped, 1 -> singleQuoted, 1 -> nonAscii, 1 -> control,
      1 -> nested)
    val key = Gen.frequency(
      10 -> Gen.oneOf("k", "k", "a", "b", "kk", "K", "k_1", "_", "", "k ").map(q),
      1 -> Gen.oneOf("'k'", "\"\\u006b\"", "k", "\"é\"", "\"k\u0001\""))
    val member = for { k <- key; a <- ws; b <- ws; c <- ws; v <- value } yield
      a + k + b + ":" + c + v
    val obj = for {
      n <- Gen.choose(0, 5); ms <- Gen.listOfN(n, member); a <- ws; b <- ws
    } yield a + "{" + ms.mkString("," + b) + b + "}" + a
    val odd = Gen.oneOf("", " ", "[1]", "[{\"k\":1}]", "1", "\"k\"", "null", "{", "}",
      "{\"k\"}", "{\"k\":}", "{,}", "{\"k\":1,}", "{\"k\":1}{\"k\":2}", "{\"k\" 1}",
      "\uFEFF{\"k\":1}", "{\"k\":1}\u0000", "\f{\"k\":1}", "{\"k\":\u000b1}")
    val doc: Gen[Array[Byte]] = Gen.frequency(12 -> obj, 1 -> odd).map(_.getBytes(UTF_8))
      .flatMap { b =>
        val cut = Gen.choose(0, b.length)
        Gen.frequency(
          12 -> Gen.const(b),
          1 -> cut.map(b.take),
          1 -> Gen.oneOf("x", "}", ",", " {}", " ", "\u0000").map(t => b ++ t.getBytes(UTF_8)),
          1 -> Gen.zip(cut, Gen.oneOf(Seq(0xff), Seq(0xc3), Seq(0x80), Seq(0xed, 0xa0, 0x80)))
            .map { case (i, bad) => b.take(i) ++ bad.map(_.toByte) ++ b.drop(i) },
          1 -> Gen.zip(cut, Gen.choose(0, 255)).map { case (i, v) =>
            if (b.isEmpty) b else b.updated(math.min(i, b.length - 1), v.toByte) })
      }
    val params = Gen.Parameters.default
    val generated = (0L until 12000L).map(i => doc.pureApply(params, Seed(i)))

    val inputs: Seq[UTF8String] =
      (corpus ++ generated).map(b => UTF8String.fromBytes(b)) :+ null
    for (name <- Seq("k", "a")) {
      val in = BoundReference(0, StringType, nullable = true)
      val ref = GetJsonObject(in, Literal("$." + name))
      val kernel = JsonField(in, name)
      assert(kernel.dataType == ref.dataType && kernel.nullable == ref.nullable)
      val compiled = GenerateUnsafeProjection.generate(Seq(ref, kernel))
      val bad = inputs.filter { s =>
        val row = InternalRow(s)
        val want = Option(ref.eval(row))
        val out = compiled(row)
        def at(i: Int) = if (out.isNullAt(i)) None else Some(out.getUTF8String(i).clone())
        Option(kernel.eval(row)) != want || at(1) != want || at(0) != want
      }
      assert(bad.isEmpty, s"$$.$name: ${bad.size} rows differ from get_json_object, e.g. " +
        bad.take(5).map(s => if (s == null) "NULL" else s.getBytes.mkString("[", ",", "]")))
    }

    // The speed-up must come from the fast path: it serves every
    // fixture row, while the generated set exercises both paths.
    val k = "k".getBytes(UTF_8)
    val scratch = new Array[Int](JsonField.ScratchInts)
    def falls(b: Array[Byte]) =
      JsonField.locate(b, Platform.BYTE_ARRAY_OFFSET, b.length, k, scratch) == JsonField.Fallback
    assert(corpus.count(falls) == 0, "fixture rows left the fast path")
    val genFalls = generated.count(falls)
    assert(genFalls > 2000 && generated.size - genFalls > 2000,
      s"generated documents must exercise both paths: $genFalls of ${generated.size} fall back")
    val fallbackClasses = Seq("{\"k\":\"a\\\"b\"}", "{'k':1}", "{\"k\":'v'}", "{\"k\":\"é\"}",
      "{\"k\":1.5}", "{\"k\":1e3}", "{\"k\":-0}", "{\"k\":007}", "{\"k\":true}",
      "{\"k\":null}", "{\"k\":{}}", "{\"k\":[1]}", "{\"k\":1,\"k\":2}", "{\"a\":1,\"a\":2}",
      "{\"k\":1", "{\"k\":1} x", "{\"k\":\"\u0001\"}", "{\"k\":1234567890123456789}",
      "", "[1]", "1", "\"k\"", "\f{}")
    fallbackClasses.foreach(s => assert(falls(s.getBytes(UTF_8)), s"fast path took $s"))
    Seq("{\"k\": 76}", " {\n\"a\" : \"x y\" ,\t\"k\":-5 }\r\n", "{}", "{\"k\":\"\"}",
      "{\"k\":999999999999999999}").foreach(s =>
      assert(!falls(s.getBytes(UTF_8)), s"fast path refused $s"))
  }

  test("sample-free sort emits the range-partitioned sort's row sequence") {
    // Random keys with ties, nulls, NaN and -0.0/0.0 under every
    // direction and null ordering. Where the sort key is total the
    // whole row sequence must match the built-in range-partitioned
    // sort; where it has ties, tied rows may come in any order, so the
    // key-column sequence must match (with -0.0 and 0.0 equal, as the
    // sort compares them).
    import org.apache.spark.sql.{Column, Row, SparkSession}
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(11)
    val doubles = Seq(Double.NaN, -0.0, 0.0, 1.5, -2.25, Double.NegativeInfinity)
    def maybe[T](v: => T): Any = if (rnd.nextInt(6) == 0) null else v
    val rows = (0 until 400).map { i =>
      Row(i.toLong, maybe(rnd.nextInt(4)), maybe(doubles(rnd.nextInt(doubles.size))),
        maybe("s" + rnd.nextInt(3)))
    }
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("k", IntegerType), StructField("d", DoubleType), StructField("s", StringType)))
    val dir = Tables.scratchDir("graft_sfs_prop_").resolve("in").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).write.parquet(dir)
    val on = spark.newSession()
    GraftSession(on)
    val off = spark.newSession()
    object aqe extends AdaptiveSparkPlanHelper
    def single(s: SparkSession, order: Seq[Column]): Boolean =
      aqe.collect(s.read.parquet(dir).orderBy(order: _*).queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }.contains(SinglePartition)
    def key(v: Any): String = v match {
      case d: Double if d == 0.0 => "0.0"
      case x => String.valueOf(x)
    }
    for (trial <- 0 until 24) {
      val keys = rnd.shuffle(Seq("k", "d", "s")).take(1 + rnd.nextInt(3))
      val order = keys.map { k =>
        (rnd.nextBoolean(), rnd.nextBoolean()) match {
          case (true, true) => col(k).asc_nulls_first
          case (true, false) => col(k).asc_nulls_last
          case (false, true) => col(k).desc_nulls_first
          case (false, false) => col(k).desc_nulls_last
        }
      }
      val total = rnd.nextBoolean()
      val full = if (total) order :+ col("id").asc else order
      assert(single(on, full) && !single(off, full), s"trial $trial: the strategy did not fire")
      val got = on.read.parquet(dir).orderBy(full: _*).collect().toSeq
      val want = off.read.parquet(dir).orderBy(full: _*).collect().toSeq
      if (total) assert(got == want, s"trial $trial ($full): row sequence differs")
      else {
        def keyed(rs: Seq[Row]) = rs.map(r => keys.map(k => key(r.get(r.fieldIndex(k)))))
        assert(keyed(got) == keyed(want), s"trial $trial ($full): key sequence differs")
        assert(got.map(_.getLong(0)).sorted == want.map(_.getLong(0)).sorted)
      }
    }
  }
}
