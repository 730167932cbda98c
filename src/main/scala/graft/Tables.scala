package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Loaders and shared helpers for the driver-generated corpus
  * (schemas: FIXTURES.md). Every query goes through here so the
  * events nanosecond-timestamp fix and the decimal-cast discipline
  * live in one place (SURVEY.md §7.4–§7.5).
  *
  * Scale note: each loader returns a lazy parquet scan — Catalyst
  * pushes filters/projections down to the columnar reader, so the
  * same plans run unmodified on a partitioned multi-file layout at
  * cluster scale. The plan cache only avoids re-reading footers on
  * repeated calls within one session.
  */
object Tables {
  // Keyed by SESSION identity, not applicationId: a DataFrame is bound
  // to the session that created it, and a cloned session (e.g. the
  // bloom query's conf-scoped `newSession()`) planning through a
  // main-session DataFrame would silently use the main session's SQL
  // confs. The session key is WEAK (and the cached scans are held
  // through a WeakReference, since a DataFrame strongly references its
  // session) so a long-lived process that mints scoped clones can drop
  // them: once a session is unreachable its footer cache is collected
  // instead of pinned forever (r6 advisory). The SCHEMA is held
  // strongly next to the weak DataFrame (a StructType references no
  // session, so it can't pin the key): a collected entry rebuilds the
  // scan with the cached explicit schema — no footer re-read, no
  // "parquet at" inference job. (r14: the former schema-less rebuild
  // launched a footer-inference job at GC-dependent moments, which the
  // PreparedSuite repeat-build-silence pin flagged on ~40 queries.)
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, String),
        (StructType, java.lang.ref.WeakReference[DataFrame])]]())

  private def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Write timestamps as µs (not legacy INT96 nanos) so dumped results
    // carry the same physical type the DuckDB oracle produces.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    graft.plans.PlannerExtensions.install(spark)
    val perSession = cache.computeIfAbsent(spark,
      _ => scala.collection.concurrent.TrieMap.empty)
    val key = (sfDir, name)
    perSession.get(key) match {
      case Some((schema, ref)) =>
        Option(ref.get).getOrElse {
          val df = spark.read.schema(schema).parquet(s"$sfDir/$name.parquet")
          perSession.update(key, (schema, new java.lang.ref.WeakReference(df)))
          df
        }
      case None =>
        val df = spark.read.parquet(s"$sfDir/$name.parquet")
        perSession.update(key, (df.schema, new java.lang.ref.WeakReference(df)))
        df
    }
  }

  /** Cached parquet scan of an arbitrary path — for FitOnce checkpoint
    * READ-BACKS (dim tables, signature tables, IVF fits): the path is
    * written once per (session, sf), but a bare `spark.read.parquet`
    * at the read site re-infers the schema on every build, and on a
    * multi-part checkpoint dir that is a footer-reading Spark job per
    * invocation — a fixed per-build cost the prepared path hides and a
    * fresh-build caller pays for nothing. Same session-weak /
    * schema-strong discipline as [[load]]. */
  private[graft] def readCached(spark: SparkSession, path: String): DataFrame = {
    val perSession = cache.computeIfAbsent(spark,
      _ => scala.collection.concurrent.TrieMap.empty)
    val key = (path, "#path")
    def reread(schema: StructType): DataFrame = {
      val df = spark.read.schema(schema).parquet(path)
      perSession.update(key, (schema, new java.lang.ref.WeakReference(df)))
      df
    }
    perSession.get(key) match {
      case Some((schema, ref)) => Option(ref.get).getOrElse(reread(schema))
      case None =>
        val df = spark.read.parquet(path)
        perSession.update(key, (df.schema, new java.lang.ref.WeakReference(df)))
        df
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** events.ts has shipped as two physical types across corpus
    * generations: INT64 TIMESTAMP(NANOS,false) — which Spark 4 only
    * reads as a raw ns long behind the legacy flag — and a plain µs
    * timestamp. Both are normalized HERE to the one logical contract
    * every batch query codes against: `ts` = epoch NANOSECONDS as a
    * long, `ts2` = the µs-truncated TIMESTAMP_NTZ. The ns→µs truncation
    * uses integer division (`div`, not `/`, which would go through
    * double and lose precision above 2^53) and matches DuckDB's own
    * CAST(ts AS TIMESTAMP) behavior; the µs→ns widening is exact
    * (×1000 stays below 2^63 until year 2262), so `epoch_ns(ts)`
    * oracles keep matching regardless of the file's physical type.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = eventsRaw(s, d)
    // ts2 is derived PER GENERATION rather than round-tripping through
    // the ns long: on a µs-timestamp file, `timestamp_micros(unix_micros
    // (ts)*1000 div 1000)` is three per-row conversions that compose to
    // a plain NTZ cast (exact: same instant, µs grain already), and
    // Catalyst has no fold rule for the composition — measured on the
    // ×10 crossover corpus (1M events) this chain was part of the ~2×
    // per-row gap vs DuckDB on the tumbling/session shapes. The ns-long
    // generation keeps the explicit div-1000 truncation (matches
    // DuckDB's CAST(ts AS TIMESTAMP)); both paths yield identical ts2.
    val ts2 = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      case _ => col("ts").cast("timestamp_ntz")
    }
    // ts2 first (its expression reads the file-native ts), then replace
    // ts with the normalized ns long.
    raw
      .withColumn("ts2", ts2)
      .withColumn("ts", tsNsExpr(raw.schema))
  }

  /** Epoch-ns long from whichever physical type the events file
    * carries: the legacy INT64(NANOS) long passes through untouched; a
    * real timestamp (zoned or NTZ — identical instants under the pinned
    * UTC session) widens exactly via unix_micros × 1000.
    *
    * The KNOWN generations are matched explicitly; anything else (a
    * string ts, an int64-MILLIS long that would otherwise be mis-read
    * as ns, …) throws at load so a third corpus drift fails loudly in
    * Verify/Bench too — not only in the SchemaDriftSuite canary. */
  def tsNsExpr(schema: org.apache.spark.sql.types.StructType): Column =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts")
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast("timestamp")) * lit(1000L)
      case other => throw new IllegalStateException(
        s"events.ts drifted to unhandled physical type $other — " +
        "extend Tables.tsNsExpr/tsUsExpr for the new corpus generation")
    }

  /** Epoch-µs long, same adaptation — the streaming-side helper:
    * `readStream` re-reads the RAW file schema (the batch-side `ts`
    * normalization above never applies), so streaming transforms adapt
    * against the file schema they were handed. */
  def tsUsExpr(schema: org.apache.spark.sql.types.StructType): Column =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast("timestamp"))
      case other => throw new IllegalStateException(
        s"events.ts drifted to unhandled physical type $other — " +
        "extend Tables.tsNsExpr/tsUsExpr for the new corpus generation")
    }

  /** The raw events scan (ts in its file-native type: ns long on the
    * legacy corpus, µs timestamp on the current one) — also the
    * session-cached schema source for the streaming reader, which needs
    * the file schema without the derived/normalized columns. */
  def eventsRaw(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(s, d, "events")
  }

  /** D2: never SUM/AVG a raw double — cast to decimal first so
    * aggregation is exact and independent of partial-agg order.
    *
    * All money-ish doubles in the corpus are exact 2-dp values
    * (measured: max |x - round(x,2)| = 0 on every double column), so a
    * cast to DECIMAL(12,2) is unambiguous in both engines regardless of
    * their double→decimal rounding mode — the double is within 1e-10 of
    * the 2-dp value, never near a rounding boundary. Downstream decimal
    * arithmetic must then stay exact (keep result precision ≤ 38, only
    * widen on output) so no engine-dependent rounding exists anywhere.
    */
  def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Rates (discount/tax, |x| ≤ 1, 2-dp) as DECIMAL(4,2) so products
    * like price*(1-d)*(1+t) stay within precision 38 and remain exact. */
  def rate(c: Column): Column = c.cast(DecimalType(4, 2))

  /** Exact decimal SUM of a 2-dp column, widened (exactly) to the
    * output type DECIMAL(18,4) to match the oracle's CAST. */
  def sumDec(c: Column): Column = sum(dec(c)).cast(DecimalType(18, 4))

  /** Unzoned timestamp literal (P2): compare NTZ columns against NTZ
    * literals — never a zoned TimestampType literal. */
  def tsLit(s: String): Column = lit(s).cast("timestamp_ntz")

  /** Re-assert TIMESTAMP_NTZ (D6): Spark time functions like
    * date_trunc/timestamp_micros return zoned TimestampType even on NTZ
    * input; under the pinned UTC session the cast is an identity. */
  def ntz(c: Column): Column = c.cast("timestamp_ntz")

  /** Temp dir removed RECURSIVELY at JVM exit. `File.deleteOnExit`
    * silently skips non-empty directories, so the parquet sink /
    * checkpoint / superstep trees written under these would otherwise
    * leak on disk across every run.
    *
    * Scratch lives on tmpfs (`/dev/shm`) when available: streaming
    * checkpoints fsync every microbatch commit, and on a disk-backed
    * /tmp that fsync is the dominant fixed cost of each short-lived
    * streaming query. On a cluster the analog is the job-scoped fast
    * scratch tier (local SSD / memory-backed volume) — durable
    * production checkpoints belong on shared storage instead, which a
    * deployment selects by passing its own checkpoint path. */
  /** Monotone count of scratch-dir allocations — the observable
    * PreparedSuite uses to enforce the side-effect declaration
    * convention (a repeat build of a memoizable query must not
    * allocate new scratch). Diagnostic only; never read by queries. */
  private[graft] val scratchAllocs =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Fast-tier eligibility: /dev/shm must be writable AND carry
    * headroom (4 GiB) — tmpfs is memory-backed, so filling it either
    * ENOSPCs a sweep mid-run or evicts page cache on a pressured host
    * (r14 advice). Below the threshold scratch falls back to the
    * default disk tmp; Bench records the chosen tier in the artifact
    * ("scratch_tier") so the degradation is never silent. */
  private[graft] def shmUsable: Boolean = try {
    val shm = java.nio.file.Paths.get("/dev/shm")
    java.nio.file.Files.isWritable(shm) &&
      shm.toFile.getUsableSpace > 4L * 1024 * 1024 * 1024
  } catch { case _: Throwable => false }

  def scratchDir(prefix: String): java.nio.file.Path = {
    scratchAllocs.incrementAndGet()
    val shm = java.nio.file.Paths.get("/dev/shm")
    val dir =
      if (shmUsable)
        java.nio.file.Files.createTempDirectory(shm, prefix)
      else java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles()
        if (cs != null) cs.foreach(rm)
        f.delete(): Unit
      }
      rm(dir.toFile)
    }))
    dir
  }
}
