package graft.api

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The public, corpus-agnostic API of the engine: every operator takes
  * an arbitrary DataFrame plus the column names it should read, so a
  * user can run the training-data pipeline over their own tables. The
  * scored `SparkEntry` queries are thin bindings of these functions to
  * the benchmark corpus — the DuckDB hash gate therefore verifies THIS
  * code, not parallel copies.
  *
  * All operators preserve the repo's scale discipline: keyed shuffles
  * and broadcasts only, no driver-side collections, no cartesian
  * products, deterministic outputs (see SURVEY §7.4 / NOTES.md).
  * Every sketch/vector operator, and `topKPerKey`, reaches its input
  * session's [[graft.GraftSession]] record first, which installs graft
  * into that session once — no setup call is required.
  *
  * Internal helper columns are prefixed `_graft_` and dropped before
  * returning, so inputs carrying ordinary names like `rn`, `cnt`, `h`
  * or `j` never collide with the implementation (the `_graft_` prefix
  * itself is reserved). PropertySuite drives every operator with
  * deliberately colliding input columns.
  */
object GraftOps {

  // ------------------------------------------------------------------
  // Text dedup
  // ------------------------------------------------------------------

  /** Exact text dedup: one row per distinct text with the minimum id
    * as keeper and the duplicate count. The digest is the grouping
    * key, computed BEFORE the aggregate, so the hash-shuffle (and its
    * map-side partials) carries a 32-char digest + id per distinct
    * text rather than full document bodies — at corpus scale the
    * difference between shuffling kilobyte documents and shuffling
    * 48-byte rows. (Grouping by digest, not text, is the standard
    * content-addressing move; an md5 collision merging two distinct
    * documents is the accepted 2^-64-scale risk every
    * content-addressed store takes.) */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("h"), col(idCol))
      .groupBy(col("h"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_cnt"))
      .orderBy("keeper_id")

  /** Rolling 31-bit polynomial hash of a string SQL expression —
    * engine-portable (plain integer arithmetic; xxhash64 is
    * Spark-only). Interpreted HOF form, kept as the executable
    * specification the native [[graft.functions.VectorExprs.RollHash]]
    * is pinned bit-equal to (PropertySuite). */
  private[graft] def rollHashHof(sqlStr: String, mult: Int): String =
    s"aggregate(transform(split($sqlStr, ''), c -> cast(ascii(c) as bigint)), " +
      s"cast(0 as bigint), (a, b) -> (a * $mult + b) % 2147483647)"

  /** Whole-text rolling-hash fingerprint dedup groups:
    * (fp, keeper_id, cnt), keeper = min id per fingerprint. The hash
    * is the native one-pass RollHash expression (codegen'd; the
    * interpreted HOF fold ran ~3 lambda evals per character and was
    * this operator's hot path — r16 stack samples put >60% of its
    * executor CPU inside StringSplit/ArrayAggregate/Ascii eval). */
  def fingerprintDedup(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    GraftSession(df.sparkSession)
    df.select(col(idCol).as("doc_id"),
        expr(s"graft_rollhash($textCol, 31)").as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("cnt"))
      .orderBy("keeper_id")
  }

  /** 62-bit SimHash fingerprint (two 31-bit halves, multipliers
    * 31/131) over the token bag: (doc_id, sh_lo, sh_hi). Near-dup
    * texts agree on almost every bit. Native one-pass expression
    * (PropertySuite pins bit-equality with the interpreted HOF
    * formula the oracle evaluates) — linear per-row work. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    GraftSession(df.sparkSession)
    df.select(col(idCol).as("doc_id"),
        expr(s"graft_simhash62($textCol)").as("_graft_sh"))
      .select(col("doc_id"),
        expr("element_at(_graft_sh, 1)").as("sh_lo"),
        expr("element_at(_graft_sh, 2)").as("sh_hi"))
  }

  /** SimHash near-duplicate pairs at Hamming distance ≤ 3:
    * (x, y, ham) with x < y. Banded-EXACT by pigeonhole: the 62-bit
    * fingerprint splits into 4 bands (16+15 per half), a pair within
    * Hamming 3 differs in at most 3 bands and so shares one verbatim —
    * the band equi-join can never miss a qualifying pair. Quadratic
    * work only inside band buckets; verification is two XOR+popcounts
    * of integer arithmetic.
    *
    * Low-entropy guard (the r5 "scale cliff": on a 31-token-vocab
    * corpus one 15-bit band held ~30% of ALL documents, so that
    * bucket's candidate term went quadratic in the corpus). Buckets
    * whose size exceeds `bandBucketCap` are NOT joined directly;
    * inside an oversized bucket the OTHER 47 bits are re-banded into
    * 4 sub-bands and the join runs on (band, sub-band). Exactness is
    * preserved by the same pigeonhole one level down: a qualifying
    * pair in the bucket agrees on the whole band, so its ≤ 3
    * differing bits all live in the remaining 47 — split 4 ways they
    * cannot cover all sub-bands, so the pair shares one verbatim.
    * Worst-case candidates per oversized bucket drop from n² to
    * Σ nᵢ² over sub-buckets; the only input this cannot bound is a
    * corpus of near-identical FINGERPRINTS, where the qualifying
    * OUTPUT itself is quadratic and no candidate generator can beat
    * its own output size. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      bandBucketCap: Int = 512): DataFrame = {
    val sh = simhash(df, idCol, textCol)
    // The band repartition is the single shared root: every consumer
    // below (the bucket count, both sides of each candidate
    // self-join) reuses this ONE exchange, so the corpus is scanned
    // and fingerprinted once instead of once per branch (live corpus
    // scans 3 -> 1 measured; without it AQE broadcasts the small
    // sides and each branch re-derives the explode from the scan).
    // The shared-root null filters keep per-branch pushdown from
    // breaking canonical equality (the pmi_bigrams discipline).
    // Deliberately NO pinned partition count (unlike Ann.spreadByCell,
    // whose pair stage is quadratic in cell size): per-bucket pair
    // work here is bounded by bandBucketCap, so AQE's byte-based
    // sizing of this exchange stays within a 512x compute
    // amplification; pinning 32 partitions on the sf0.1 shuffle
    // instead stormed the shuffle-file machinery (64 map tasks x 32
    // reduce files of open/mmap/unmap measured 6-17 CPU-s against
    // ~0.1 CPU-s of candidate probes).
    val bands = sh.select(col("doc_id"), col("sh_lo"), col("sh_hi"),
      posexplode(array(
        expr("sh_lo % 65536"), expr("sh_lo div 65536"),
        expr("sh_hi % 65536"), expr("sh_hi div 65536")))
        .as(Seq("b_idx", "b_val")))
      .filter(col("doc_id").isNotNull && col("b_val").isNotNull)
      .repartition(col("b_idx"), col("b_val"))
    // Bucket size as a window count over the shared partitioning: no
    // separate count lineage (a join-with-aggregate branch gets its
    // columns pruned, which forks the scan again), no extra exchange —
    // the window's (b_idx, b_val) requirement is satisfied by the
    // repartition above.
    val withN = bands.withColumn("_graft_bn",
      count(lit(1)).over(Window.partitionBy("b_idx", "b_val")))
    def pairUp(c: DataFrame, keys: Seq[String]): DataFrame =
      c.as("a").join(c.as("b"),
          keys.map(k => col(s"a.$k") === col(s"b.$k"))
            .reduce(_ && _) && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"),
          (expr("bit_count(a.sh_lo ^ b.sh_lo)")
            + expr("bit_count(a.sh_hi ^ b.sh_hi)")).cast("long").as("ham"))
    val small = pairUp(withN.filter(col("_graft_bn") <= bandBucketCap),
      Seq("b_idx", "b_val"))
    // Oversized buckets: pack the three non-band values (the other 47
    // bits) into one bigint, injectively per b_idx, and re-band it
    // into 4 × 12-bit slices.
    val rest = withN.filter(col("_graft_bn") > bandBucketCap)
      .withColumn("_graft_rest", expr(
        """CASE b_idx
           WHEN 0 THEN (cast(sh_lo as bigint) div 65536) + (cast(sh_hi as bigint) % 65536) * 32768 + (cast(sh_hi as bigint) div 65536) * 2147483648
           WHEN 1 THEN (cast(sh_lo as bigint) % 65536) + (cast(sh_hi as bigint) % 65536) * 65536 + (cast(sh_hi as bigint) div 65536) * 4294967296
           WHEN 2 THEN (cast(sh_lo as bigint) % 65536) + (cast(sh_lo as bigint) div 65536) * 65536 + (cast(sh_hi as bigint) div 65536) * 2147483648
           ELSE (cast(sh_lo as bigint) % 65536) + (cast(sh_lo as bigint) div 65536) * 65536 + (cast(sh_hi as bigint) % 65536) * 2147483648
           END"""))
      .select(col("doc_id"), col("sh_lo"), col("sh_hi"),
        col("b_idx"), col("b_val"),
        posexplode(array(
          expr("_graft_rest % 4096"),
          expr("(_graft_rest div 4096) % 4096"),
          expr("(_graft_rest div 16777216) % 4096"),
          expr("_graft_rest div 68719476736")))
          .as(Seq("s_idx", "s_val")))
    val big = pairUp(rest, Seq("b_idx", "b_val", "s_idx", "s_val"))
    small.union(big)
      .distinct()
      .filter(col("ham") <= 3)
      .orderBy("x", "y")
  }

  /** Hashed word-n-gram shingle sets (`doc_id`, `hs`) — the input
    * shape of the MinHash-LSH pipeline. */
  def wordShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    GraftSession(df.sparkSession)
    df.withColumn("hs", expr(s"graft_wordshingle_hashes($textCol, $n)"))
      .filter(size(col("hs")) > 0)
      .select(col(idCol).as("doc_id"), col("hs"))
  }

  /** Hashed character-n-gram sets (`doc_id`, `hs`). */
  def charGrams(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    GraftSession(df.sparkSession)
    df.filter(length(col(textCol)) >= n)
      .select(col(idCol).as("doc_id"),
        expr(s"graft_chargram_hashes($textCol, $n)").as("hs"))
  }

  /** MinHash-LSH near-duplicate pairs over hashed shingle sets
    * (`doc_id`, `hs`): banded candidate generation, exact-Jaccard
    * verification on candidates only — never all-pairs. Output
    * (x, y, c, na, nb, j) with x < y and j >= thr. */
  def nearDupPairs(hashed: DataFrame, thr: Double): DataFrame = {
    GraftSession(hashed.sparkSession)
    graft.llm.Dedup.lshJaccard(hashed, thr)
  }

  /** Connected components over an undirected pair list (`x`, `y`):
    * (vertex, component-minimum) labels — the canonical-keeper step.
    * Alternating large-star/small-star contraction, self-converging in
    * O(log n) rounds for ANY cluster diameter (no round count to
    * tune); each superstep is checkpointed to a scratch dir. */
  def dedupComponents(spark: SparkSession, pairs: DataFrame): DataFrame =
    // keep only the FIRST TWO columns (the documented positional edge
    // contract): a pair frame carrying extras (e.g. simhashNearDup's
    // `ham`) would otherwise die in analysis with an arity mismatch
    // on the internal toDF("x", "y")
    graft.llm.Dedup.componentsOf(spark,
      pairs.select(pairs.columns.take(2).map(col).toIndexedSeq: _*))

  /** Within-document n-gram repetition ratio — the Gopher/Falcon-style
    * quality signal (heavily repetitive documents are low-value
    * training data): (doc_id, total_ngrams, distinct_ngrams,
    * rep_milli) with rep_milli = 1000·(total−distinct)/total, integer
    * arithmetic throughout. Distinct counts come from the native
    * one-pass shingle hasher; per-row work, linear. */
  def repetitionRatio(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    GraftSession(df.sparkSession)
    // Token count as #spaces + 1 via a length difference (two byte
    // scans, one allocation) — the token ARRAY was built here purely
    // to read its size, once in the filter and once in the projection.
    // size(split(t, ' ', -1)) ≡ count(' ') + 1 exactly (split on the
    // single-space separator, empty segments kept).
    val nTok = length(col(textCol)) -
      length(expr(s"replace($textCol, ' ', '')")) + 1
    df.filter(nTok >= n)
      .select(col(idCol).as("doc_id"),
        (nTok - (n - 1)).cast("long").as("total_ngrams"),
        expr(s"size(graft_wordshingle_hashes($textCol, $n))")
          .cast("long").as("distinct_ngrams"))
      .withColumn("rep_milli",
        expr("((total_ngrams - distinct_ngrams) * 1000) div total_ngrams"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: per corpus document, how many of its
    * distinct word-n-gram shingles also appear in a (small) held-out
    * benchmark set — the standard train/test-contamination check of a
    * training-data pipeline. Returns (doc_id, n_sh, overlap,
    * contam_milli). The benchmark shingle set is BROADCAST (benchmark
    * suites are tiny; the corpus is the 100 TB side), so the scan
    * stays embarrassingly parallel with no corpus-side shuffle before
    * the per-doc count. */
  def shingleOverlap(df: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int): DataFrame = {
    val sh = wordShingles(df, idCol, textCol, n)
    val bh = wordShingles(bench, benchIdCol, benchTextCol, n)
      .select(explode(col("hs")).as("_graft_bh")).distinct()
    val sizes = sh.select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"))
    val hits = sh.select(col("doc_id"), explode(col("hs")).as("_graft_h"))
      .join(broadcast(bh), col("_graft_h") === col("_graft_bh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("overlap"))
    sizes.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("overlap"), lit(0L)).as("overlap"))
      .withColumn("contam_milli", expr("(overlap * 1000) div n_sh"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // Text analysis
  // ------------------------------------------------------------------

  /** Lowercase, strip non-alphanumerics, collapse whitespace. */
  def normalize(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "),
          " +", " ")).as("norm_text"))
      .withColumn("norm_len", length(col("norm_text")).cast("long"))
      .orderBy("doc_id")

  /** Fixed-size token chunks with overlap (window tokens per chunk,
    * stride tokens between starts). */
  def tokenChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame =
    df.withColumn("_graft_toks", split(col(textCol), " "))
      .withColumn("_graft_s",
        explode(expr(s"sequence(0, size(_graft_toks) - 1, $stride)")))
      .select(col(idCol).as("doc_id"),
        expr(s"cast(_graft_s div $stride as bigint)").as("chunk_idx"),
        concat_ws(" ", slice(col("_graft_toks"), col("_graft_s") + 1, lit(window)))
          .as("chunk_text"),
        size(slice(col("_graft_toks"), col("_graft_s") + 1, lit(window)))
          .cast("long").as("chunk_toks"))
      .orderBy("doc_id", "chunk_idx")

  /** Stable data identity of every leaf relation in an analyzed plan,
    * or None when ANY leaf has no stable identity — in which case the
    * caller must fit fresh and never cache. A canonicalized plan
    * string alone is NOT a data identity: LogicalRelation prints only
    * `Relation [cols] parquet` with no path and LocalRelation prints
    * no rows, so two same-schema corpora in one application would
    * collide (and the second would be served the first corpus's
    * materialized artifact). Identity sources, per leaf kind:
    * file relations → sorted root paths; RDD-backed plans → the RDD
    * id (unique per SparkContext); literal LocalRelations → a SHA-256
    * of schema + every row's bytes; `spark.range` → its parameters.
    * Anything else is unidentifiable → None. */
  private[graft] def leafDataIdentity(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[String] = {
    val ids = plan.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Some("fs:" +
              fs.location.rootPaths.map(_.toString).sorted.mkString(","))
          case _ => None
        }
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        Some("rdd:" + r.rdd.id)
      case loc: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        md.update(loc.schema.json.getBytes("UTF-8"))
        loc.data.foreach { row =>
          // InternalRow.toString is deterministic per row content for
          // both Generic (field values) and Unsafe (hex bytes) rows.
          md.update(row.toString.getBytes("UTF-8"))
          md.update(0.toByte)
        }
        Some("local:" + md.digest().map("%02x".format(_)).mkString)
      case rg: org.apache.spark.sql.catalyst.plans.logical.Range =>
        Some(s"range:${rg.start}:${rg.end}:${rg.step}")
      case _ => None
    }
    if (ids.nonEmpty && ids.forall(_.isDefined)) Some(ids.flatten.mkString(";"))
    else None
  }

  /** Top-k TF-IDF terms per document (integer tf/df/N, FLOAT-narrowed
    * score, term-text tie-break). */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    // The TF table is the query's real intermediate artifact — a
    // production pipeline materializes it — so materialize it ONCE per
    // (session, corpus) through the fit-once store and derive
    // BOTH consumers (the per-doc stream and the document-frequency
    // aggregate) from the one parquet artifact: the corpus is
    // tokenized exactly once STRUCTURALLY (r17 verdict #7). Earlier
    // rounds got the single explode from exchange-reuse canonical
    // equality propped up by a vacuous tf >= 1 filter — an optimizer-
    // internal dependency (and count(tf) disproved the fix-by-
    // expression route: Catalyst rewrites a non-nullable count to
    // count(1) and prunes back to a distinct). A persist() was tried
    // and rejected: it parks an entry in the session CacheManager
    // after the query returns, which the teardown-discipline pin
    // rightly refuses (executor storage held without the caller's
    // consent). The corpus has no stable name, so the fit key is the
    // SHA-256 of (the TF plan's canonicalized form ++ the full input
    // schema json ++ the leaf data identity). The canonicalized string
    // is exprId-normalized and equal for repeated calls on the same
    // frame, but it carries NO data identity (no paths, no rows) and
    // its field lists truncate at spark.sql.debug.maxToStringFields —
    // so [[leafDataIdentity]] supplies paths / RDD ids / local-row
    // hashes, and schema.json supplies the untruncated column list.
    // A frame whose leaves have no stable identity is fitted FRESH and
    // never cached (serving corpus A's TF artifact to same-schema
    // corpus B is a correctness bug, reproduced in FitOnceSuite).
    val spark = df.sparkSession
    val tfPlan = df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // The key is the fit's scope, where named queries pass their corpus dir.
    val tf = leafDataIdentity(df.queryExecution.analyzed) match {
      case Some(dataId) =>
        val planKey = java.security.MessageDigest.getInstance("SHA-256")
          .digest((s"tfidf|$idCol|$textCol|" +
            tfPlan.queryExecution.analyzed.canonicalized.toString +
            "|schema:" + df.schema.json + "|data:" + dataId)
            .getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        graft.FitOnce.checkpoint(spark, planKey, "GraftOps.tf", "graft_tf_", "tf")(tfPlan)
      case None => graft.Tables.readCached(spark,
        graft.FitOnce.inScratch("graft_tf_")(graft.FitOnce.parquet(_, "tf", tfPlan)))
    }
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("_graft_n"))
    // Per-doc ranking through the one-pass heap operator instead of a
    // row_number window: the window plan sorts every (doc_id)
    // partition in full to keep k rows, the heap exec keeps
    // O(docs × k) state in one streaming pass — same
    // (score DESC, term ASC) total order, same appended LongType rn
    // (row-identical asserted in the A/B; the scale argument is
    // TopKPerKey's raison d'être, see win_topk_native).
    val joined = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * log(col("_graft_n").cast("double") / col("df"))).cast("float"))
    topKPerKey(joined, Seq("doc_id"), "score", "term", k)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy("doc_id", "rn")
  }

  /** Fit a marker-token language-ID model: each language's `topN`
    * tokens by (count desc, token asc) from the labeled corpus,
    * returned lang-sorted with the tokens sorted within each language
    * — a driver-side artifact of ≤ nLangs × topN (lang, token) pairs,
    * the persist-once / apply-forever shape of a production langid
    * model. At most 64 languages (the serving kernel packs language
    * membership into one 64-bit mask per token). The fit is one
    * explode + keyed count — hash-shuffles on (lang, token) — run
    * once, not per scoring batch; feed the result to
    * [[langIdAssign]].
    *
    * Degenerate labels are REJECTED loudly: a null in `langCol` throws
    * (a null is not a language — silently fitting a "null" class or
    * NPE-ing in the driver-side sort were both wrong; same convention
    * as [[langIdAssign]]'s degenerate-model guards). Rows whose
    * `textCol` is null contribute no tokens and are dropped from the
    * fit — explode() of a null split is empty, the standard SQL
    * semantics. */
  def langMarkersFit(df: DataFrame, langCol: String, textCol: String,
      topN: Int = 20): Seq[(String, Seq[String])] = {
    // Null-label refusal is folded into the fit's own single pass
    // (r17 advice — the old eager filter.limit(1).count() pre-scan ran
    // a full extra job over the input): explode_outer keeps one
    // sentinel row for null/empty-split texts, so EVERY null-label row
    // reaches the aggregation and is refused at collect. Null tokens
    // from non-null labels are dropped before the ranking window so a
    // corpus of null texts can't displace genuine markers from topN;
    // null-label rows keep flowing regardless of their token.
    val tok = df.select(col(langCol).as("_graft_lang"),
      explode_outer(split(col(textCol), " ")).as("_graft_tok"))
      .filter(col("_graft_tok").isNotNull || col("_graft_lang").isNull)
    val rows = tok.groupBy(col("_graft_lang"), col("_graft_tok"))
      .agg(count(lit(1)).as("_graft_cnt"))
      .withColumn("_graft_rn", row_number().over(
        Window.partitionBy("_graft_lang")
          .orderBy(desc("_graft_cnt"), asc("_graft_tok"))))
      .filter(col("_graft_rn") <= topN)
      .groupBy(col("_graft_lang"))
      .agg(sort_array(collect_list(col("_graft_tok"))).as("_graft_toks"))
      .collect()
    if (rows.exists(_.isNullAt(0)))
      throw new IllegalArgumentException(
        s"langMarkersFit: label column '$langCol' contains nulls — " +
          "filter or impute labels before fitting")
    rows.map(r => (r.getString(0), r.getSeq[String](1)))
      .sortBy(_._1)
      .toSeq
  }

  /** Apply a fitted marker model: predict each row's argmax language
    * (ties alphabetically), dropping rows with zero marker hits —
    * output (idCol, pred_lang). `idCol` is simply carried through, so
    * passing a label column instead of an id yields
    * (true, predicted) rows ready for a confusion-matrix aggregate.
    * The ≤64-language model ships into the plan as literals and the
    * native `graft_marker_hits` expression counts every language's
    * marker instances in ONE byte pass per document — serving is
    * embarrassingly parallel over input splits with no explode, no
    * join and no shuffle before the caller's own aggregation.
    *
    * Multi-model serving is bounded by construction: a model shipped
    * as a plan literal (this method's shape) is decoded once per
    * expression instance, and the kernel's fallback per-thread decode
    * cache for NON-literal model columns holds at most the 4
    * most-recently-used models per executor thread (MRU eviction —
    * a host alternating among many distinct models re-decodes on
    * re-encounter instead of retaining every model forever). */
  def langIdAssign(df: DataFrame, idCol: String, textCol: String,
      model: Seq[(String, Seq[String])]): DataFrame = {
    require(model.size <= 64,
      "marker model supports at most 64 candidate languages")
    // A language's markers are a SET: the kernel packs membership into
    // one bit per language, so a duplicated token would silently count
    // once where the documented explode⋈markers spec counts the join
    // fan-out — refuse loudly instead ([[langMarkersFit]] never emits
    // duplicates; this guards hand-built models).
    model.find(p => p._2.distinct.size != p._2.size).foreach { p =>
      throw new IllegalArgumentException(
        s"marker model for language '${p._1}' contains duplicate tokens")
    }
    GraftSession(df.sparkSession)
    val m = model.sortBy(_._1) // lang-sorted ⇒ argmax ties break alphabetically
    val langsLit = typedlit(m.map(_._1))
    df.select(col(idCol), col(textCol).as("_graft_t"),
        typedlit(m).as("_graft_mk"))
      .select(col(idCol),
        expr("graft_marker_hits(_graft_t, _graft_mk)").as("_graft_h"))
      .filter(array_max(col("_graft_h")) >= 1)
      .select(col(idCol),
        element_at(langsLit,
          array_position(col("_graft_h"), array_max(col("_graft_h")))
            .cast("int")).as("pred_lang"))
  }

  /** Exact floor(1/denom) sample of each stratum by portable key-hash
    * order (pure function of the data; `idCol` must be a non-negative
    * integral key). */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      denom: Int): DataFrame = {
    val h = s"((($idCol) % 2147483648) * 2654435761) % 4294967296"
    val w = Window.partitionBy(stratumCol)
    df.withColumn("_graft_h", expr(h))
      .withColumn("_graft_rn",
        row_number().over(w.orderBy(col("_graft_h"), col(idCol))))
      .withColumn("_graft_cnt", count(lit(1)).over(w))
      .filter(col("_graft_rn") * denom <= col("_graft_cnt"))
      .drop("_graft_h", "_graft_rn", "_graft_cnt")
  }

  // ------------------------------------------------------------------
  // Similarity search
  // ------------------------------------------------------------------

  /** The packed broadcast side for the cosine kernels: the whole
    * (id, norm, vector) table in ONE row. Broadcastable to ~1M
    * vectors; beyond that use [[lshBuckets]]. */
  /** Rows a cosine kernel can score: non-null id, non-null vector, no
    * null ENTRIES (a null vector has no direction; a null entry makes
    * the dot product undefined). Dropped on both the packed-index and
    * the query side — the adversarial-input suite pins that a null row
    * silently contributes nothing rather than NPE-ing the kernel. */
  private def scorableVecs(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
      !expr(s"exists($vecCol, x -> x IS NULL)"))

  def packVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    GraftSession(df.sparkSession)
    scorableVecs(df, idCol, vecCol)
      .select(struct(col(idCol).cast("long").as("vec_id"),
        sqrt(expr(s"graft_dot($vecCol, $vecCol)")).as("nrm"),
        col(vecCol).as("embedding")).as("v"))
      .agg(collect_list(col("v")).as("_graft_vs"))
      .withColumn("_graft_j", lit(0))
  }

  /** Exact per-row top-k cosine partners: (x, y, sim) rows, each input
    * row scanning the packed broadcast once — no n² materialization. */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    scorableVecs(df, idCol, vecCol).withColumn("_graft_j", lit(0))
      .join(broadcast(packVectors(df, idCol, vecCol)), "_graft_j")
      .select(col(idCol).cast("long").as("x"),
        explode(expr(s"graft_cos_topk($idCol, $vecCol, _graft_vs, $k)")).as("p"))
      .select(col("x"), col("p.y").as("y"), col("p.sim").as("sim"))

  /** Exact cosine near-duplicate pairs (x < y, sim >= thr). */
  def cosineNearDup(df: DataFrame, idCol: String, vecCol: String,
      thr: Double): DataFrame =
    scorableVecs(df, idCol, vecCol).withColumn("_graft_j", lit(0))
      .join(broadcast(packVectors(df, idCol, vecCol)), "_graft_j")
      .select(col(idCol).cast("long").as("x"),
        explode(expr(
          s"graft_cos_nbrs($idCol, $vecCol, _graft_vs, cast($thr as double))")).as("p"))
      .select(col("x"), col("p.y").as("y"), col("p.sim").as("sim"))

  /** Random-hyperplane LSH bucket ids — the beyond-broadcast scale
    * path: equi-join on the bucket, pair-search within buckets. */
  def lshBuckets(df: DataFrame, vecCol: String): DataFrame = {
    GraftSession(df.sparkSession)
    df.withColumn("bucket", expr(s"graft_rademacher_bucket($vecCol)"))
  }

  // ------------------------------------------------------------------
  // IVF index (fit once / assign many)
  // ------------------------------------------------------------------

  /** The k-means contract frame: (vec_id, embedding, ed). */
  private def vecContract(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("embedding"))
      .withColumn("ed", expr("transform(embedding, x -> cast(x as double))"))

  /** Deterministic k-means fit of an IVF coarse quantizer: k centroids
    * from `iters` Lloyd rounds over a hash-sampled init (`idCol` must
    * be a non-negative integral key). Returns the (cid, ce) centroid
    * table — persist it and feed [[ivfAssign]], which is the
    * train-once / assign-many serving shape. Every step is a broadcast
    * join or keyed shuffle; fully deterministic (see llm_ann_ivf). */
  def ivfFit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame = {
    GraftSession(df.sparkSession)
    graft.llm.Ann.kmeansFit(vecContract(df, idCol, vecCol), k, iters)
  }

  /** Assign each vector to its `probes` nearest fitted centroids
    * (ties → lowest cid): one output row per (vector, probed cell),
    * columns (idCol, cell). Pair search / lookup then equi-joins on
    * `cell` — quadratic only within cells, never across the corpus. */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, probes: Int): DataFrame = {
    GraftSession(df.sparkSession)
    graft.llm.Ann.assign(vecContract(df, idCol, vecCol), centroids, probes)
      .select(col("vec_id").as(idCol), col("cell"))
  }

  /** Composite quality gate — the C4/Gopher-style filter chain as one
    * composable decision: token-count bounds, a bigram-repetition cap
    * (via [[repetitionRatio]]) and a stopword-ratio floor, every
    * signal integer-milli exact. Output (idCol, n_tok, rep_milli,
    * stop_milli, gate_bits, keep): gate_bits sets bit 0 for a length
    * failure, bit 1 for repetition, bit 2 for stopwords — the
    * drop-reason telemetry a production pipeline logs alongside the
    * boolean. Cost: two linear per-row passes + one equi-join on the
    * id; at corpus scale the join shuffles only (id, milli) pairs. */
  def qualityGate(df: DataFrame, idCol: String, textCol: String,
      minTok: Long, maxTok: Long, maxRepMilli: Long,
      minStopMilli: Long, stopwords: Seq[String]): DataFrame = {
    val rep = repetitionRatio(df, idCol, textCol, 2)
      .select(col("doc_id").as("_graft_rid"), col("rep_milli"))
    val stopPred = stopwords.map(w => s"t = '$w'").mkString(" OR ")
    df.withColumn("_graft_toks", split(col(textCol), " "))
      .select(col(idCol),
        size(col("_graft_toks")).cast("long").as("n_tok"),
        expr(s"cast(size(filter(_graft_toks, t -> $stopPred)) as bigint)")
          .as("_graft_stop"))
      .withColumn("stop_milli", expr("(_graft_stop * 1000) div n_tok"))
      .join(rep, col(idCol) === col("_graft_rid"))
      .select(col(idCol), col("n_tok"), col("rep_milli"), col("stop_milli"))
      .withColumn("gate_bits",
        when(col("n_tok") < minTok || col("n_tok") > maxTok, 1L).otherwise(0L)
          + when(col("rep_milli") > maxRepMilli, 2L).otherwise(0L)
          + when(col("stop_milli") < minStopMilli, 4L).otherwise(0L))
      .withColumn("keep", col("gate_bits") === 0L)
      .orderBy(idCol)
  }

  /** Corpus-wide word-n-gram frequency table — the n-gram LM /
    * contamination-index build: (ngram, cnt) for every whitespace
    * n-gram occurring at least `minCount` times. One explode + one
    * keyed count; map-side partials mean the shuffle carries (gram,
    * partial-count) pairs, not token occurrences, and the `minCount`
    * filter sits on the aggregate (HAVING shape). Output cardinality
    * is bounded by distinct-ngram count, not corpus size. */
  def ngramCounts(df: DataFrame, textCol: String, n: Int,
      minCount: Long): DataFrame =
    // limit-n split in the filter: ⟺ `size(full split) >= n` (size of
    // a limit-n split is n exactly when the text has ≥ n-1 separators)
    // but stops scanning at the (n-1)th space instead of building the
    // whole token array once for the filter and again for the project.
    //
    // r22 (guide step 4, non-codegen expressions in the hot path): the
    // gram strings were built inside a `transform(...)` lambda, and
    // higher-order functions evaluate their lambda INTERPRETED — the
    // ×10 stack sample put ~90% of the stage CPU in Slice.nullSafeEval
    // / ArrayJoin.eval / GenericArrayData allocation, not in real
    // work. Exploding the INDEX sequence instead and building each
    // gram with row-level slice + concat_ws keeps the whole pipeline
    // in whole-stage codegen (same multiset of grams: concat_ws ≡
    // array_join on split()'s null-free arrays). _graft_toks is
    // referenced twice (generator bound + projection), so
    // CollapseProject keeps the split() evaluated once per document.
    df.filter(size(split(col(textCol), " ", n)) >= n)
      .withColumn("_graft_toks", split(col(textCol), " "))
      .select(col("_graft_toks"),
        explode(sequence(lit(0), size(col("_graft_toks")) - n)).as("_graft_i"))
      .select(concat_ws(" ",
        slice(col("_graft_toks"), col("_graft_i") + 1, lit(n))).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy("ngram")

  /** Per-document token (Shannon) entropy — the vocabulary-diversity
    * quality signal (low entropy ⇒ repetitive/boilerplate text).
    * H = ln n − (Σ c·ln c)/n over per-document token counts c. The
    * inner sum is accumulated as EXACT integers: each count contributes
    * c · round(ln(c)·10⁶) µ-nat units, so the aggregate is
    * order-independent (D2) and cross-engine stable — ln is only
    * 1-ulp-accurate per engine, but the quantization boundary is ~10⁻⁹
    * wide against a quantum of 1, so the rounded value is engine-equal
    * for every count that fits in a double. The final H combines the
    * two exact integers in one fixed IEEE expression, FLOAT-narrowed
    * (D8). Two keyed aggregates — (doc, token) then doc — both
    * map-side-partial shuffles at any corpus size. */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("_graft_tok"))
      .groupBy(col(idCol), col("_graft_tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"),
        sum(expr("c * CAST(round(LN(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)"))
          .as("s_micro"))
      .select(col(idCol), col("n").as("n_tokens"), col("n_types"),
        expr("CAST(LN(CAST(n AS DOUBLE)) - " +
          "CAST(s_micro AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) " +
          "AS FLOAT)").as("entropy"))
      .orderBy(idCol)

  /** PMI collocation mining: top-k word bigrams by pointwise mutual
    * information, ln(P(xy) / (P(x)·P(y))) — the classic phrase /
    * multi-word-expression detector over a corpus. Built from three
    * exact count tables (unigram, bigram, and their 1-row totals —
    * all keyed count-aggregates with map-side partials); the bigram
    * table joins the unigram table twice on the word key (equi-joins
    * that AQE broadcasts while the vocabulary fits, shuffles once it
    * doesn't), the totals ride a 1-row broadcast. PMI combines the
    * six exact integers in one fixed double expression, FLOAT-narrowed
    * (D8): ln((cxy·Nu·Nu) / (cx·cy·Nb)) — every product is formed in
    * double, so no integer-overflow cliff at corpus scale. `minCount`
    * drops hapax pairs BEFORE the joins (standard PMI practice and the
    * candidate bound: output ≤ distinct bigrams, never token volume).
    */
  def pmiBigrams(df: DataFrame, textCol: String, minCount: Long,
      k: Int): DataFrame = {
    // Explode the split INLINE (the tfidf shape): exploding a
    // projection-defined toks COLUMN makes InferFiltersFromGenerate
    // insert `size(toks) > 0 AND isnotnull(toks)` which pushdown then
    // substitutes through the projection — the full split() ran THREE
    // times per row on the unigram pass (plan-read, the same class as
    // near-dedup's triple MinHashBands). Inline generator children
    // skip the infer rule, so the split runs once.
    val uni = df.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // `size(split(t, ' ', 2)) >= 2` ⟺ at least one space ⟺ the full
    // split has ≥ 2 tokens — but the limit-2 split stops scanning at
    // the first separator instead of materializing the whole token
    // array a second time just for the filter.
    val toks = df.filter(size(split(col(textCol), " ", 2)) >= 2)
      .select(split(col(textCol), " ").as("_graft_toks"))
    // r22: same interpreted-HOF class as ngramCounts — the transform()
    // lambda evaluated its struct(toks[i], toks[i+1]) per element
    // outside codegen. Explode the index sequence and read the two
    // tokens with row-level subscripts instead (GetArrayItem, codegen);
    // same pair multiset, split still evaluated once per document
    // (_graft_toks referenced by generator bound AND projection).
    val biOcc = toks
      .select(col("_graft_toks"),
        explode(sequence(lit(0), size(col("_graft_toks")) - 2))
          .as("_graft_i"))
      .select(expr("_graft_toks[_graft_i]").as("w1"),
        expr("_graft_toks[_graft_i + 1]").as("w2"))
      // Vacuously true (split tokens are never null) but load-bearing:
      // the cx/cy equi-joins push IsNotNull(w1, w2) below the bigram
      // aggregate on their branch; stating it here puts the identical
      // filter on the totals branch too, so the two consumers
      // canonicalize to ONE shuffle exchange (exchange reuse) instead
      // of exploding the corpus a third time.
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    val bc = biOcc.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
    // Token total from the bigram total: every doc yields len tokens
    // and max(len-1, 0) bigrams, and split() never yields an empty
    // array, so Nu = Nb + ndocs exactly. This replaces a third full
    // text-column pass with a column-free row count; the two real
    // explode passes (unigram, bigram) each build one shuffle that
    // exchange-reuse shares between its two consumers.
    val totals = bc.agg(sum(col("cxy")).as("nb"))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("_graft_nd"))))
      .select((col("nb") + col("_graft_nd")).as("nu"), col("nb"))
    bc.filter(col("cxy") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("cx")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("cy")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi", expr(
        "CAST(LN((CAST(cxy AS DOUBLE) * CAST(nu AS DOUBLE) * CAST(nu AS DOUBLE)) / " +
          "(CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) * CAST(nb AS DOUBLE))) AS FLOAT)"))
      .select(col("w1"), col("w2"), col("cxy"), col("cx"), col("cy"),
        col("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // Keyed compaction / capping / event analytics
  // ------------------------------------------------------------------

  /** Bounded per-key top-k through the custom [[graft.plans.TopKPerKey]]
    * operator: `row_number() <= k` semantics, heap execution — one
    * streaming pass with O(keys × k) memory instead of the window
    * plan's full per-partition sort (the spill shape at scale). Rows
    * rank by `orderCol` DESC with `tieCol` ASC making the order total,
    * so output and ranks are deterministic. Appends a `rn` rank
    * column. Installs graft, this strategy among it, on first use. */
  def topKPerKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
      tieCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    GraftSession(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(n: String) = analyzed.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    org.apache.spark.sql.GraftDatasetShim.ofRows(spark,
      graft.plans.TopKPerKey(
        keyCols.map(attr),
        Seq(SortOrder(attr(orderCol), Descending),
          SortOrder(attr(tieCol), Ascending)),
        k, analyzed))
  }

  /** Latest-wins compaction (the MERGE INTO / CDC-upsert shape): one
    * row per key, keeping the row that sorts FIRST by `orderCols`
    * descending. `(key, orderCols)` must be unique or the winner is
    * arbitrary. One keyed row_number shuffle — the cost of the join a
    * MERGE would run. */
  def latestWins(df: DataFrame, keyCol: String,
      orderCols: String*): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1).drop("_graft_rn")
      .orderBy(keyCol)
  }

  /** Per-key rate limiting / contribution cap: the first `n` rows per
    * key group in `orderCols` order (make the order unique for a
    * deterministic cap). The rank is emitted under caller-chosen
    * `rankCol`. Filters ahead of all downstream work, so the cap also
    * bounds every later stage's input. */
  def rateLimit(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], n: Int, rankCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    df.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= n)
  }

  /** Gaps-and-islands: maximal runs of CONSECUTIVE dates per key via
    * the rn-difference trick (day − row_number is constant exactly
    * within a run). Input is reduced to the distinct (key, day) grain
    * first. Returns (key, island_start, island_end, n_days). */
  def islands(df: DataFrame, keyCol: String, dayCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
    df.select(col(keyCol), col(dayCol)).distinct()
      .withColumn("_graft_grp", date_sub(col(dayCol), row_number().over(w)))
      .groupBy(col(keyCol), col("_graft_grp"))
      .agg(min(col(dayCol)).as("island_start"),
        max(col(dayCol)).as("island_end"),
        count(lit(1)).as("n_days"))
      .select(col(keyCol), col("island_start"), col("island_end"),
        col("n_days"))
      .orderBy(keyCol, "island_start")
  }

  /** Cohort retention matrix: users keyed by first-active day,
    * distinct-counted per day offset since it. Two keyed aggregates
    * over the distinct (user, day) grain; the matrix is at most
    * |days|², independent of event volume. Returns (cohort_day,
    * offset_d, n_users). */
  def retentionMatrix(df: DataFrame, userCol: String,
      dayCol: String): DataFrame = {
    val days = df.select(col(userCol), col(dayCol)).distinct()
    val cohort = days.groupBy(col(userCol))
      .agg(min(col(dayCol)).as("cohort_day"))
    days.join(cohort, userCol)
      .select(col("cohort_day"),
        datediff(col(dayCol), col("cohort_day")).cast("long").as("offset_d"),
        col(userCol))
      .groupBy(col("cohort_day"), col("offset_d"))
      .agg(countDistinct(col(userCol)).as("n_users"))
      .orderBy("cohort_day", "offset_d")
  }

  /** Ordered funnel over arbitrary step values: step k = each user's
    * earliest `typeCol == steps(k)` event STRICTLY after step k−1,
    * then one count per depth (`n_users`, `reached_<step>`…). One
    * conditional-aggregate+join round per step; per-user state is one
    * timestamp per step, never an event list. */
  def funnel(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val first = df.groupBy(col(userCol))
      .agg(min(when(col(typeCol) === steps.head, col(tsCol)))
        .as("_graft_t1"))
    val staged = steps.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (step, i)) =>
        val groupCols = col(userCol) +: (1 to i).map(j => col(s"_graft_t$j"))
        df.join(acc, userCol)
          .groupBy(groupCols: _*)
          .agg(min(when(col(typeCol) === step &&
            col(tsCol) > col(s"_graft_t$i"), col(tsCol)))
            .as(s"_graft_t${i + 1}"))
    }
    val counts = steps.zipWithIndex.map { case (s, i) =>
      count(col(s"_graft_t${i + 1}")).as(s"reached_$s")
    }
    staged.agg(count(lit(1)).as("n_users"), counts: _*)
  }

  // ------------------------------------------------------------------
  // Corpus curation: packing, mixing, sampling, scrubbing
  // ------------------------------------------------------------------

  /** Sequence packing: assign documents to fixed token-budget packs
    * for context-window-sized training batches. Packs are formed per
    * shard (`shardCol`) in `idCol` order; a doc's pack is
    * `cum_before div budget` where cum_before is the token count of
    * the docs ahead of it in the shard — the standard streaming-pack
    * approximation (a pack may straddle one boundary doc; exact
    * first-fit would serialize). One partitioned window, no global
    * ordering: shards pack in parallel, so the shape scales with the
    * shard count, not the corpus. */
  def seqPack(df: DataFrame, shardCol: String, idCol: String,
      textCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(shardCol), col(idCol),
        size(split(col(textCol), " ")).cast("long").as("n_tok"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("pack_id", expr("cum_before div " + budget))
      .orderBy(shardCol, idCol)
  }

  /** Assemble the packed training sequences [[seqPack]] assigns:
    * per (shard, pack), the member count, token total, and the
    * concatenated text in id order (one string per pack — bounded by
    * the pack budget + one overflow doc, so pack rows stay small no
    * matter the corpus). Reuses seqPack's window, then one keyed
    * aggregate; the id-sorted struct collect makes the concatenation
    * a pure function of pack contents. */
  def packTexts(df: DataFrame, shardCol: String, idCol: String,
      textCol: String, budget: Long): DataFrame = {
    val packed = seqPack(df, shardCol, idCol, textCol, budget)
      .select(col(shardCol), col(idCol).as("_graft_id"),
        col("n_tok"), col("pack_id"))
    df.select(col(shardCol).as("_graft_sh"), col(idCol).as("_graft_id"),
        col(textCol).as("_graft_tx"))
      .join(packed.drop(shardCol), "_graft_id")
      .groupBy(col("_graft_sh").as(shardCol), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok"),
        expr("array_join(transform(array_sort(" +
          "collect_list(struct(_graft_id, _graft_tx))), s -> s._graft_tx), ' ')")
          .as("packed"))
      .orderBy(shardCol, "pack_id")
  }

  /** Domain mixing under a per-source token budget: walk each
    * source's docs in `idCol` order and keep them while the tokens
    * already kept stay under `budget` (the doc that crosses the line
    * is still taken — "first overflow included", so every non-empty
    * source contributes). Returns the per-source mix actually
    * achieved: docs kept, tokens kept, tokens available. Same
    * partitioned-window shape as [[seqPack]] — parallel across
    * sources. */
  def mixBudget(df: DataFrame, shardCol: String, idCol: String,
      textCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(shardCol), col(idCol),
        size(split(col(textCol), " ")).cast("long").as("_graft_tok"))
      .withColumn("_graft_before",
        coalesce(sum(col("_graft_tok")).over(w), lit(0L)))
      .groupBy(col(shardCol))
      .agg(
        count(when(col("_graft_before") < budget, 1)).as("n_kept"),
        coalesce(sum(when(col("_graft_before") < budget,
          col("_graft_tok"))), lit(0L)).as("tok_kept"),
        sum(col("_graft_tok")).as("tok_avail"))
      .orderBy(shardCol)
  }

  /** Deterministic importance sampling: keep a row with probability
    * `weight / cap` using the engine-portable key-hash as the uniform
    * draw — all-integer arithmetic (hash < weight * (2^32 div cap)),
    * so both engines make the identical keep decision and re-runs are
    * reproducible row-for-row. `weightCol` must be integral in
    * [0, cap]. Pure per-row filter: no shuffle at all. */
  def weightedSample(df: DataFrame, idCol: String,
      weightCol: String, cap: Long): DataFrame = {
    val slot = 4294967296L / cap
    df.withColumn("_graft_h",
        expr(s"(($idCol % 2147483648) * 2654435761) % 4294967296"))
      .filter(col("_graft_h") < col(weightCol) * slot)
      .drop("_graft_h")
      .orderBy(idCol)
  }

  /** Deterministic FIXED-SIZE uniform sample: the k rows with the
    * smallest portable key hash ([[weightedSample]]'s multiplicative
    * LCG — an odd multiplier mod 2^32 permutes the key space, so the
    * k smallest hashes are a uniform k-subset). Where weightedSample
    * keeps a proportional fraction, this pins an exact count — the
    * eval-set / human-review draw. Compiles to
    * TakeOrderedAndProject: per-partition bounded heaps plus a k-row
    * driver merge — no global sort, no full shuffle, identical plan
    * at any corpus size. Re-runs and engines agree row-for-row.
    * `idCol` must be a non-negative integral key. */
  def fixedSample(df: DataFrame, idCol: String, k: Int): DataFrame =
    df.withColumn("_graft_h",
        expr(s"(($idCol % 2147483648) * 2654435761) % 4294967296"))
      .orderBy(col("_graft_h"), col(idCol))
      .limit(k)
      .drop("_graft_h")

  /** Symmetric int8 quantization of an embedding column — the
    * serving-prep compression step (4× smaller vectors, dot products
    * in integer SIMD downstream). Per-vector scale = max|x|/127;
    * quantized values use the fixed rule floor(x·127/max|x| + 0.5)
    * (round-half-toward-+inf), which both engines evaluate as the
    * identical IEEE expression — native round() half-handling is the
    * one thing engines disagree on. All-zero vectors quantize to
    * zeros with scale 0. Pure per-row map, no shuffle. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.withColumn("_graft_ma",
        expr(s"array_max(transform($vecCol, x -> abs(cast(x as double))))"))
      .select(col(idCol),
        (col("_graft_ma") / 127.0d).cast("float").as("scale"),
        expr(s"""array_join(transform($vecCol, x -> cast(cast(
          CASE WHEN _graft_ma = 0.0d THEN 0.0d
               ELSE floor(cast(x as double) * 127.0d / _graft_ma + 0.5d) END
          as bigint) as string)), '|')""").as("q"))
      .orderBy(idCol)

  /** Truncated EWMA (α = 1/2 over the trailing `2^(depth-1)`-weighted
    * `depth` rows) per key — online metric smoothing whose dyadic
    * weights keep the weighted sum INTEGER when `valueCol` is
    * integral: no float accumulation order for engines to disagree
    * on. Emits `ewma` in `2^(depth-1)`-units of the input. One
    * partitioned window with `depth−1` bounded lags; make
    * `orderCols` unique per key for a deterministic series. */
  def ewma(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String, depth: Int = 8): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(c => col(c).asc): _*)
    val terms = col(valueCol) * lit(1L << (depth - 1)) +:
      (1 until depth).map(k =>
        coalesce(lag(col(valueCol), k).over(w), lit(0L)) *
          lit(1L << (depth - 1 - k)))
    df.withColumn("ewma", terms.reduce(_ + _))
  }

  /** Per-key 3-sigma outlier profile — the anomaly gate of a metrics
    * pipeline. `valueCol` must be integral (scale your measure to
    * cents/millis first). Membership is the population |z| > 3 test
    * cleared of division and sqrt — (n·v − Σv)² > 9·(n·Σv² − (Σv)²) —
    * evaluated in DECIMAL(38,0), so it is integer-exact on any
    * engine. One keyed stats aggregate broadcast back onto the linear
    * scan + one conditional aggregate: two shuffles at any scale.
    *
    * Caller contract: the stats broadcast is per-KEY grain, so
    * `keyCol` must have bounded cardinality (event types, status
    * codes — not user ids). For unbounded keys drop the hint and let
    * the re-join shuffle: both sides are already keyed by `keyCol`. */
  def zscoreOutliers(df: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val v = col("_graft_v")
    val e = df.select(col(keyCol), col(valueCol).as("_graft_v"))
    val stats = e.groupBy(keyCol).agg(
        count(lit(1)).as("_graft_n"),
        sum(d38(v)).cast("decimal(38,0)").as("_graft_s"),
        sum(d38(v * v)).cast("decimal(38,0)").as("_graft_sxx"),
        max(abs(d38(v))).as("_graft_ma"))
      // Overflow envelope, enforced: the integer-exact test squares
      // n·v − Σv, so it needs |n·max(v)| < 10^19 to stay inside
      // DECIMAL(38,0). Under ANSI mode an overflow would throw anyway;
      // under non-ANSI it would NULL the predicate and silently count
      // extreme rows as non-outliers (r5 advisory) — this assertion
      // makes both modes fail loudly instead. The filter keeps every
      // row (assert_true returns NULL on success) and anchors the
      // check against column pruning.
      .filter(assert_true(
        d38(col("_graft_n")) * col("_graft_ma") <
          lit(java.math.BigDecimal.valueOf(1e18)).cast("decimal(38,0)"),
        lit("zscoreOutliers: |value|*n exceeds the DECIMAL(38,0) " +
          "envelope; rescale the value column")).isNull)
      .drop("_graft_ma")
    val dev = d38(col("_graft_n")) * d38(v) - col("_graft_s")
    val isOut = dev * dev >
      lit(9) * (d38(col("_graft_n")) * col("_graft_sxx") -
        col("_graft_s") * col("_graft_s"))
    e.join(broadcast(stats), Seq(keyCol))
      .groupBy(keyCol)
      .agg(min(col("_graft_n")).as("n"),
        count(when(isOut, lit(1))).as("n_out"),
        max(when(isOut, v)).as("max_out"))
      .orderBy(keyCol)
  }

  /** Pattern scrubbing (the PII-redaction plumbing): replace every
    * match of `pattern` with `token` and report the per-doc hit
    * count. Patterns stay RE2-safe (alternations / classes, no
    * lookaround) so the same regex runs on any engine; the pattern
    * must not match the empty string. One regex SPLIT per row yields
    * both outputs (segments − 1 hits; segments joined on the token ≡
    * regexp_replace) — half the cost of the natural extract-all +
    * replace pair, which scans the text twice. Per-row map, linear
    * scale. */
  def redact(df: DataFrame, idCol: String, textCol: String,
      pattern: String, token: String): DataFrame =
    df.withColumn("_graft_seg", split(col(textCol), pattern))
      .select(col(idCol),
        (size(col("_graft_seg")) - 1).cast("long").as("n_hits"),
        array_join(col("_graft_seg"), token).as("redacted"))
      .orderBy(idCol)

  // ------------------------------------------------------------------
  // Graph analytics
  // ------------------------------------------------------------------

  /** Canonicalize an arbitrary edge list to the undirected
    * (x, y) x < y deduplicated form the graph cores consume
    * (self-loops dropped, direction and duplicates collapsed;
    * endpoints must be non-null integral keys). */
  private def undirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("_graft_a"),
        col(dstCol).cast("long").as("_graft_b"))
      .filter(col("_graft_a") =!= col("_graft_b"))
      .select(least(col("_graft_a"), col("_graft_b")).as("x"),
        greatest(col("_graft_a"), col("_graft_b")).as("y"))
      .distinct()

  /** Bidirectional degree table (u, dg) of the canonical edge list. */
  private def degreesOf(e0: DataFrame): DataFrame =
    e0.select(col("x").as("u")).unionAll(e0.select(col("y").as("u")))
      .groupBy("u").agg(count(lit(1)).as("dg"))

  /** Exact integer PageRank over an arbitrary undirected edge list:
    * `iters` rounds of rank ← 0.15 + 0.85·Σ rank(u)/deg(u) in µ-rank
    * BIGINTs (per-edge contribution (pr·85) div (100·dg) — floor
    * arithmetic, order-independent sums, engine-exact; the scored
    * graph_pagerank runs the same [[graft.operators.Graph.pagerankFold]]).
    * Output: every node's (node, pr_micro). The rank vector is
    * broadcast-hinted onto the adjacency each iteration only below
    * the same ~10 M-node gate the scored query applies
    * ([[graft.operators.Graph.BroadcastNodeCap]] — 16 B/row); the
    * default `broadcastRanks = None` COUNTS the nodes once at build
    * time to decide (one aggregation job — the safe default, never a
    * forced over-cap broadcast). Pass `Some(true/false)` to skip the
    * count and keep the builder lazy when the scale is known. For big
    * graphs persist the edge DataFrame first: each iteration's plan
    * re-derives the adjacency from `edges` lineage. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3,
      broadcastRanks: Option[Boolean] = None): DataFrame = {
    val e0 = undirected(edges, srcCol, dstCol)
    val deg = degreesOf(e0)
    val adj = e0.select(col("x").as("u"), col("y").as("v"))
      .unionAll(e0.select(col("y").as("u"), col("x").as("v")))
      .join(deg, "u")
    val init = deg.select(col("u").as("n"), lit(1000000000000L).as("pr"))
    val hint = broadcastRanks.getOrElse(
      deg.count() <= graft.operators.Graph.BroadcastNodeCap)
    graft.operators.Graph.pagerankFold(adj, init, iters, hint)
      .select(col("n").as("node"), col("pr").as("pr_micro"))
  }

  /** Global triangle census of an arbitrary undirected edge list:
    * (n_edges, n_wedges, n_triangles, gcc) via the degree-ordered
    * orientation (π-out-degree bounded by O(√m), so the intersection
    * kernel never explodes on hub nodes; the scored graph_triangles
    * runs the same [[graft.operators.Graph.triangleCensusOf]] core). */
  def triangleCensus(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e0 = undirected(edges, srcCol, dstCol)
    graft.operators.Graph.triangleCensusOf(e0,
      degreesOf(e0).select(col("u").as("n"), col("dg")))
  }
}
