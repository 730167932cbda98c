package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-engine differential fuzzer (r17 verdict #3): seeded random
  * micro-frames — nulls, empties, extreme longs, NaN/±Inf doubles,
  * Latin-1/CJK/astral unicode — through random parameterizations of
  * fourteen shapes (filter, group-agg, distinct, join flavors, window
  * ranks, sort+limit, set ops, tokenize+count, two GraftOps text
  * surfaces — fingerprintDedup's native RollHash kernel and
  * parameterized ngramCounts — and, new in r19 per the r18 verdict:
  * RANGE-frame window aggregates with frame radii up to
  * Long.MaxValue/2, tumbling `window()` vs `time_bucket` at epoch
  * edges and multi-millennium NTZ extremes, `session_window` vs a
  * lag-gap SQL rebuild including the exact-gap merge boundary, and
  * the dyadic-integer EWMA kernel at random depths), each emitted as
  * BOTH a Spark DataFrame plan and the equivalent DuckDB SQL over the
  * same input parquet bits. `tools/check.py` is the comparator, so the
  * fuzz corpus extends the oracle gate beyond the 169 hand-declared
  * queries and catches dialect drift on inputs nobody pinned.
  *
  * Determinism rules inherited from NOTES.md D1–D10:
  *  - both engines read the SAME parquet input files (value-literal
  *    fidelity is never in play);
  *  - every case ends in a total ORDER BY over its output columns,
  *    NULLS FIRST spelled explicitly on the DuckDB side (Spark's
  *    ascending default);
  *  - doubles only pass through or take min/max/count — never sum/avg
  *    (partial-aggregation order is engine-private);
  *  - long sums draw from |v| ≤ 1e6 so no engine needs >64-bit
  *    headroom; DuckDB's DECIMAL(38,0) SUM is cast back to BIGINT;
  *  - rank/dense_rank/row_number cast to BIGINT on the Spark side
  *    (D10); ties are only permitted where the rank value itself is
  *    deterministic (ordering key + unique tiebreak for row_number);
  *  - comparisons never touch doubles (Spark uses Java NaN comparison
  *    semantics in predicates but total order in sorts; DuckDB treats
  *    NaN as +∞ in both — sorts agree, filters would not);
  *  - -0.0 is excluded from generation (float-repr canonicalization
  *    distinguishes it from 0.0; the engines' grouping normalization
  *    does not).
  *
  * Found-divergence protocol: freeze the seed as a named regression
  * (`fz<seed>_<shape>`), reproduce with `runMain graft.tools.Fuzz
  * <outDir> <seed> <seed+1>`, minimize the frame by bisecting nRows,
  * classify engine-bug vs dialect-difference against the SQL standard,
  * then either fix the engine side or add the rule above WITH the
  * exclusion documented here and in NOTES.md.
  *
  * Usage: runMain graft.tools.Fuzz <outDir> [fromSeed] [toSeed]
  *        runMain graft.tools.Fuzz --golden <jsonPath> [n]
  */
object Fuzz {

  private val StringPool: IndexedSeq[String] = IndexedSeq(
    null, "", "a", "b", "the", "the cat", "a  b", " a ", "zz top",
    "héllo", "日本語 текст", "x𝕏y", "NaN", "0", "a\"q", "tab\tsep",
    "Z", "the the the", "𝕏", "é")

  private val BigPool: IndexedSeq[java.lang.Long] = IndexedSeq(
    null, 0L, 1L, -1L, Long.MaxValue, Long.MinValue, 42L, -99999999999L)

  private val DoublePool: IndexedSeq[java.lang.Double] = IndexedSeq(
    null, 0.0, 1.5, -2.25, Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, 3.141592653589793, 1e-300, -1e300)

  final case class Frame(name: String, path: String, df: DataFrame)

  private def rng(seed: Long) = new java.util.Random(seed * 2654435761L + 0x9E3779B9L)

  /** Deterministic micro-frame for (seed, which); written to parquet
    * once and read back so both engines see identical bits. */
  private def genFrame(spark: SparkSession, dir: String, seed: Int,
      which: Int): Frame = {
    val r = rng(seed.toLong * 7 + which)
    val n = if (r.nextInt(12) == 0) 0 else r.nextInt(41)
    val rows = (0 until n).map { i =>
      val k = StringPool(r.nextInt(StringPool.size))
      val v: java.lang.Long =
        if (r.nextInt(10) == 0) null else java.lang.Long.valueOf(r.nextInt(2000001) - 1000000L)
      val big = BigPool(r.nextInt(BigPool.size))
      val d = DoublePool(r.nextInt(DoublePool.size))
      Row(i.toLong, k, v, big, d)
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("k", StringType), StructField("v", LongType),
      StructField("big", LongType), StructField("d", DoubleType)))
    val name = s"in_${seed}_$which"
    val path = s"$dir/_in/$name.parquet"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(path)
    Frame(name, path, spark.read.schema(schema).parquet(path))
  }

  private def rp(f: Frame): String = s"read_parquet('${f.path}/*.parquet')"

  /** One fuzz case: (name, spark plan, DuckDB SQL). */
  def genCase(spark: SparkSession, dir: String, seed: Int): (String, DataFrame, String) = {
    val r = rng(seed)
    val a = genFrame(spark, dir, seed, 0)
    val shape = seed % 14
    val nm = f"fz${seed}%04d"
    shape match {
      case 0 => // filter + project, modulus predicate on v, null-k arm
        val m = 2 + r.nextInt(9); val rem = r.nextInt(m)
        val df = a.df.filter(col("v") % m === (rem - m) || col("v") % m === rem ||
            col("k").isNull)
          .select("id", "k", "v", "big").orderBy("id")
        val sql = s"SELECT id, k, v, big FROM ${rp(a)} " +
          s"WHERE v % $m = ${rem - m} OR v % $m = $rem OR k IS NULL ORDER BY id"
        (s"${nm}_filter", df, sql)
      case 1 => // group agg by k
        val df = a.df.groupBy("k").agg(
            count(lit(1)).as("cnt"), count(col("v")).as("cv"),
            sum(col("v")).as("sv"), min(col("big")).as("mn"),
            max(col("big")).as("mx"), countDistinct(col("v")).as("cdv"),
            min(col("d")).as("mnd"), max(col("d")).as("mxd"))
          .orderBy(asc_nulls_first("k"))
        val sql = "SELECT k, COUNT(*) AS cnt, COUNT(v) AS cv, " +
          "CAST(SUM(v) AS BIGINT) AS sv, MIN(big) AS mn, MAX(big) AS mx, " +
          "COUNT(DISTINCT v) AS cdv, MIN(d) AS mnd, MAX(d) AS mxd " +
          s"FROM ${rp(a)} GROUP BY k ORDER BY k NULLS FIRST"
        (s"${nm}_agg", df, sql)
      case 2 => // distinct projection
        val df = a.df.select("k", "v").distinct()
          .orderBy(asc_nulls_first("k"), asc_nulls_first("v"))
        val sql = s"SELECT DISTINCT k, v FROM ${rp(a)} " +
          "ORDER BY k NULLS FIRST, v NULLS FIRST"
        (s"${nm}_distinct", df, sql)
      case 3 => // join flavors on the string key
        val b = genFrame(spark, dir, seed, 1)
        r.nextInt(4) match {
          case 0 =>
            val df = a.df.as("a").join(b.df.as("b"), col("a.k") === col("b.k"))
              .select(col("a.id").as("aid"), col("a.k").as("k"),
                col("b.id").as("bid"), col("b.v").as("bv"))
              .orderBy(asc_nulls_first("aid"), asc_nulls_first("bid"))
            val sql = "SELECT a.id AS aid, a.k AS k, b.id AS bid, b.v AS bv " +
              s"FROM ${rp(a)} a JOIN ${rp(b)} b ON a.k = b.k " +
              "ORDER BY aid NULLS FIRST, bid NULLS FIRST"
            (s"${nm}_join_inner", df, sql)
          case 1 =>
            val df = a.df.as("a").join(b.df.as("b"), col("a.k") === col("b.k"), "left")
              .select(col("a.id").as("aid"), col("a.k").as("k"),
                col("b.id").as("bid"), col("b.v").as("bv"))
              .orderBy(asc_nulls_first("aid"), asc_nulls_first("bid"))
            val sql = "SELECT a.id AS aid, a.k AS k, b.id AS bid, b.v AS bv " +
              s"FROM ${rp(a)} a LEFT JOIN ${rp(b)} b ON a.k = b.k " +
              "ORDER BY aid NULLS FIRST, bid NULLS FIRST"
            (s"${nm}_join_left", df, sql)
          case 2 =>
            val df = a.df.as("a").join(b.df.as("b"), col("a.k") === col("b.k"), "left_semi")
              .select(col("id"), col("k")).orderBy("id")
            val sql = s"SELECT a.id, a.k FROM ${rp(a)} a " +
              s"WHERE EXISTS (SELECT 1 FROM ${rp(b)} b WHERE a.k = b.k) ORDER BY a.id"
            (s"${nm}_join_semi", df, sql)
          case 3 =>
            val df = a.df.as("a").join(b.df.as("b"), col("a.k") === col("b.k"), "left_anti")
              .select(col("id"), col("k")).orderBy("id")
            val sql = s"SELECT a.id, a.k FROM ${rp(a)} a " +
              s"WHERE NOT EXISTS (SELECT 1 FROM ${rp(b)} b WHERE a.k = b.k) ORDER BY a.id"
            (s"${nm}_join_anti", df, sql)
        }
      case 4 => // window ranks: unique-keyed row_number, tie-tolerant ranks
        import org.apache.spark.sql.expressions.Window
        val df = a.df.select(col("id"), col("k"), col("v"),
            row_number().over(Window.partitionBy("k").orderBy("id"))
              .cast("long").as("rn"),
            rank().over(Window.orderBy(asc_nulls_first("v"))).cast("long").as("rk"),
            dense_rank().over(Window.orderBy(asc_nulls_first("v")))
              .cast("long").as("drk"))
          .orderBy("id")
        val sql = "SELECT id, k, v, " +
          "ROW_NUMBER() OVER (PARTITION BY k ORDER BY id) AS rn, " +
          "RANK() OVER (ORDER BY v NULLS FIRST) AS rk, " +
          "DENSE_RANK() OVER (ORDER BY v NULLS FIRST) AS drk " +
          s"FROM ${rp(a)} ORDER BY id"
        (s"${nm}_window", df, sql)
      case 5 => // sort + limit with a unique tiebreak
        val lim = 1 + r.nextInt(15)
        val df = a.df.select("id", "k", "v", "big")
          .orderBy(asc_nulls_first("v"), asc_nulls_first("big"), col("id"))
          .limit(lim)
        val sql = s"SELECT id, k, v, big FROM ${rp(a)} " +
          s"ORDER BY v NULLS FIRST, big NULLS FIRST, id LIMIT $lim"
        (s"${nm}_sortlimit", df, sql)
      case 6 => // set ops
        val b = genFrame(spark, dir, seed, 1)
        val (op, dfo, sqlOp) = r.nextInt(3) match {
          case 0 => ("unionall", a.df.select("k", "v").unionAll(b.df.select("k", "v")), "UNION ALL")
          case 1 => ("intersect", a.df.select("k", "v").intersect(b.df.select("k", "v")), "INTERSECT")
          case 2 => ("except", a.df.select("k", "v").except(b.df.select("k", "v")), "EXCEPT")
        }
        val df = dfo.orderBy(asc_nulls_first("k"), asc_nulls_first("v"))
        val sql = s"SELECT k, v FROM ${rp(a)} $sqlOp SELECT k, v FROM ${rp(b)} " +
          "ORDER BY k NULLS FIRST, v NULLS FIRST"
        (s"${nm}_set_$op", df, sql)
      case 7 => // tokenize + count (split/unnest dialect pair)
        val df = a.df.select(explode(split(col("k"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
          .orderBy(asc_nulls_first("tok"))
        val sql = "SELECT tok, COUNT(*) AS c FROM (SELECT UNNEST(" +
          s"string_split(k, ' ')) AS tok FROM ${rp(a)} WHERE k IS NOT NULL) " +
          "GROUP BY tok ORDER BY tok NULLS FIRST"
        (s"${nm}_tokens", df, sql)
      case 8 => // GraftOps.fingerprintDedup — the native RollHash kernel
        // on arbitrary pool strings (unicode classes beyond the three
        // PropertySuite pins) vs the portable-LCG DuckDB fold. Null
        // texts pre-filtered identically on both sides.
        val df = graft.api.GraftOps.fingerprintDedup(
          a.df.filter(col("k").isNotNull), "id", "k")
        val sql = "SELECT fp, MIN(doc_id) AS keeper_id, COUNT(*) AS cnt FROM (" +
          "SELECT id AS doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(string_split(k, ''), c -> CAST(ascii(c) AS BIGINT))), " +
          s"(x, y) -> (x * 31 + y) % 2147483647) AS fp FROM ${rp(a)} " +
          "WHERE k IS NOT NULL) t GROUP BY fp ORDER BY keeper_id"
        (s"${nm}_rollhash", df, sql)
      case 9 => // GraftOps.ngramCounts — parameterized n and minCount
        val n = 2 + r.nextInt(2); val mc = 1 + r.nextInt(2)
        val df = graft.api.GraftOps.ngramCounts(
          a.df.filter(col("k").isNotNull), "k", n, mc)
        val concat = (0 until n).map(j => s"ts[i+${j + 1}]")
          .mkString(" || ' ' || ")
        val sql = s"WITH ts AS (SELECT string_split(k, ' ') AS ts FROM ${rp(a)} " +
          s"WHERE k IS NOT NULL AND len(string_split(k, ' ')) >= $n), " +
          s"g AS (SELECT $concat AS ngram FROM ts, " +
          s"LATERAL (SELECT unnest(range(len(ts) - ${n - 1})) AS i) t) " +
          "SELECT ngram, COUNT(*) AS cnt FROM g GROUP BY ngram " +
          s"HAVING COUNT(*) >= $mc ORDER BY ngram"
        (s"${nm}_ngrams", df, sql)
      case 10 => // RANGE-frame window aggregates, radii up to Long.MaxValue/2
        // (frame-boundary arithmetic must not overflow or misalign at
        // extreme radii; peers share frames by value so ties are safe).
        // v is the ordering key (|v| <= 1e6 keeps v±W in long range for
        // W <= Long.MaxValue/2 on both engines — DuckDB ERRORS on
        // BIGINT overflow where Spark wraps, so the generator stays in
        // range by construction). Null ordering keys are pre-filtered:
        // the null-peer-group frame is engine-specific by the standard.
        import org.apache.spark.sql.expressions.Window
        val radii = IndexedSeq(0L, 1L, 3L, 1000L, 1000000L,
          1000000000L, Long.MaxValue / 2)
        val rad = radii(r.nextInt(radii.size))
        val w = Window.partitionBy("k").orderBy("v").rangeBetween(-rad, rad)
        val df = a.df.filter(col("v").isNotNull)
          .select(col("id"), col("k"), col("v"),
            sum(col("v")).over(w).as("sv"),
            count(lit(1)).over(w).cast("long").as("c"),
            min(col("big")).over(w).as("mnb"))
          .orderBy("id")
        val sql = "SELECT id, k, v, CAST(SUM(v) OVER w AS BIGINT) AS sv, " +
          "COUNT(*) OVER w AS c, MIN(big) OVER w AS mnb " +
          s"FROM ${rp(a)} WHERE v IS NOT NULL " +
          s"WINDOW w AS (PARTITION BY k ORDER BY v RANGE BETWEEN $rad PRECEDING " +
          s"AND $rad FOLLOWING) ORDER BY id"
        (s"${nm}_rangeframe", df, sql)
      case 11 => // tumbling window() vs time_bucket at timestamp extremes
        // big % 6.2e16 µs spans ~year 5 AD to ~3935 AD (both inside
        // python datetime's comparator range) and lands exact bucket
        // edges from the pool's 0/±1 — Spark's window() floors
        // negative epochs and time_bucket with an 1970-01-01 origin
        // matches it bit-for-bit (probed on ±6.2e16, ±7s, ±1µs).
        // TimestampNTZ on the Spark side so parquet round-trips naive.
        val m = 62000000000000000L
        val sec = 1 + r.nextInt(13)
        val e = a.df.filter(col("big").isNotNull)
          .select(timestamp_micros(col("big") % m).cast("timestamp_ntz").as("ts"),
            col("v"))
        val df = e.groupBy(window(col("ts"), s"$sec seconds"))
          .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv"))
          .select(col("window.start").as("wstart"), col("window.end").as("wend"),
            col("cnt"), col("sv"))
          .orderBy("wstart")
        val sql = s"WITH e AS (SELECT make_timestamp(big % $m) AS ts, v " +
          s"FROM ${rp(a)} WHERE big IS NOT NULL) " +
          s"SELECT time_bucket(INTERVAL $sec SECOND, ts, TIMESTAMP '1970-01-01') AS wstart, " +
          s"time_bucket(INTERVAL $sec SECOND, ts, TIMESTAMP '1970-01-01') + INTERVAL $sec SECOND AS wend, " +
          "COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS sv " +
          "FROM e GROUP BY 1 ORDER BY wstart"
        (s"${nm}_tumbling", df, sql)
      case 12 => // session_window vs a lag-gap SQL rebuild
        // Exact-gap boundary pinned by probe: an event at prev + gap
        // MERGES into the session (new session only when the gap is
        // strictly exceeded), and session end = last event + gap.
        val m = 62000000000000000L
        val g = 1 + r.nextInt(5)
        val e = a.df.filter(col("big").isNotNull)
          .select(timestamp_micros(col("big") % m).cast("timestamp_ntz").as("ts"),
            col("v"))
        val df = e.groupBy(session_window(col("ts"), s"$g seconds"))
          .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv"))
          .select(col("session_window.start").as("wstart"),
            col("session_window.end").as("wend"), col("cnt"), col("sv"))
          .orderBy("wstart")
        val sql = s"WITH e AS (SELECT make_timestamp(big % $m) AS ts, v " +
          s"FROM ${rp(a)} WHERE big IS NOT NULL), " +
          "s AS (SELECT ts, v, CASE WHEN LAG(ts) OVER (ORDER BY ts) IS NULL " +
          s"OR ts - LAG(ts) OVER (ORDER BY ts) > INTERVAL $g SECOND " +
          "THEN 1 ELSE 0 END AS brk FROM e), " +
          "t AS (SELECT ts, v, SUM(brk) OVER (ORDER BY ts " +
          "ROWS UNBOUNDED PRECEDING) AS sid FROM s) " +
          s"SELECT MIN(ts) AS wstart, MAX(ts) + INTERVAL $g SECOND AS wend, " +
          "COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS sv " +
          "FROM t GROUP BY sid ORDER BY wstart"
        (s"${nm}_session", df, sql)
      case 13 => // GraftOps.ewma — dyadic-integer kernel, random depth
        // Null values PASS THROUGH (current-row null ⇒ null ewma in
        // both engines; lagged nulls coalesce to 0) — the kernel's
        // null algebra is part of the contract under test.
        val depth = 2 + r.nextInt(7)
        val df = graft.api.GraftOps.ewma(a.df, "k", Seq("id"), "v", depth)
          .select(col("id"), col("k"), col("v"), col("ewma"))
          .orderBy("id")
        val terms = s"v * ${1L << (depth - 1)}" +:
          (1 until depth).map(j =>
            s"coalesce(lag(v, $j) OVER w, 0) * ${1L << (depth - 1 - j)}")
        val sql = s"SELECT id, k, v, ${terms.mkString(" + ")} AS ewma " +
          s"FROM ${rp(a)} WINDOW w AS (PARTITION BY k ORDER BY id) ORDER BY id"
        (s"${nm}_ewma", df, sql)
    }
  }

  /** Stable content hash of a case's ordered result — the suite golden.
    * Spark-side only (committed goldens are additionally DuckDB-attested
    * through the minted FUZZ artifact over the same seeds). */
  def caseHash(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    df.collect().foreach { row =>
      val s = (0 until row.length).map { i =>
        val v = row.get(i)
        if (v == null) "NULL" else s"${v.getClass.getSimpleName}:$v"
      }.mkString("|", "", "")
      md.update(s.getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The golden/dump loop of both fuzzers' mains (each passes its own
    * tag, golden count and default last seed; the CLI is the same):
    *  - `--golden <jsonPath> [n]` writes seed → [[caseHash]] for the
    *    first n seeds, the committed suite goldens;
    *  - `<outDir> [fromSeed] [toSeed]` writes every case's result
    *    parquet plus oracle_sql.json for tools/check.py, and exits 2
    *    if any case failed to generate. */
  private[tools] def drive(args: Array[String], tag: String, goldens: Int,
      toSeed: Int)(gen: (SparkSession, String, Int) => (String, DataFrame, String)): Unit = {
    val spark = graft.Bench.session("8")
    spark.sparkContext.setLogLevel("WARN")
    if (args.headOption.contains("--golden")) {
      val path = args(1)
      val n = args.lift(2).map(_.toInt).getOrElse(goldens)
      val dir = graft.Tables.scratchDir(s"graft_${tag}_golden_").toString
      val entries = (0 until n).map { s =>
        val (name, df, _) = gen(spark, dir, s)
        s"""  ${graft.Verify.jsonString(name)}: ${graft.Verify.jsonString(caseHash(df))}"""
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        entries.mkString("{\n", ",\n", "\n}\n"))
      println(s"[$tag] wrote $n goldens to $path")
    } else {
      val dir = new java.io.File(args(0)).getAbsolutePath
      val from = args.lift(1).map(_.toInt).getOrElse(0)
      val to = args.lift(2).map(_.toInt).getOrElse(toSeed)
      new java.io.File(dir).mkdirs()
      val oracle = scala.collection.mutable.LinkedHashMap.empty[String, String]
      var failed = 0
      for (seed <- from until to) {
        try {
          val (name, df, sql) = gen(spark, dir, seed)
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
          oracle(name) = sql
        } catch { case e: Throwable =>
          failed += 1
          System.err.println(s"[$tag] seed $seed failed: ${e.getMessage}")
        }
        if ((seed + 1 - from) % 50 == 0)
          println(s"[$tag] ${seed + 1 - from}/${to - from} cases dumped")
      }
      graft.Verify.writeJsonMap(s"$dir/oracle_sql.json", oracle)
      println(s"[$tag] ${oracle.size} cases, $failed generation failures → $dir")
      if (failed > 0) sys.exit(2)
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = drive(args, "fuzz", 48, 1000)(genCase)
}
