package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + catalog management for the engine.
  *
  * The reference (adenhq/hive) loads CSV/Excel/BigQuery tables into an
  * embedded DuckDB and names the working table `data`
  * (`tools/src/aden_tools/tools/csv_tool/csv_tool.py:358`,
  * `excel_tool.py:580-617`). Spark-natively, the analog is a
  * SparkSession catalog of temp views over columnar (parquet) tables;
  * Catalyst then provides pushdown/pruning/codegen for free.
  *
  * Scale notes (100 TB): table registration is metadata-only — no data
  * is read until an action. Parquet scans get vectorized reads,
  * predicate pushdown, partition pruning and (with AQE) runtime
  * coalescing; nothing here materializes on the driver.
  */
object Engine {

  /** The driver testdata star schema plus LLM-pipeline tables. */
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Entry bound of Spark's generated-code cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is
    * JVM-global and keyed by generated source text. One pass over the
    * registry compiles about 2,330 distinct classes; at the default
    * bound every warm pass recompiled them (a Janino compile on the
    * driver plus a fresh JIT each). 4096 holds the registry, the
    * QueryGate templates and headroom; measured gain and memory cost
    * are on [[session]].
    */
  val CodegenCacheMaxEntries: Int = 4096

  /** The builder every engine session starts from: the local master,
    * the session settings the queries depend on, and the static
    * (first-session-of-the-JVM) settings such as the codegen cache
    * bound.
    */
  private[core] def builder(appName: String, cores: Int): SparkSession.Builder = {
    // JVM-global engine configuration belongs where the JVM is set up:
    // ImageIO's default stream cache is FILE-backed (a temp file
    // created and deleted per image encode/decode); every media kernel
    // here works from in-memory bytes, so memory-cached streams are a
    // byte-identical I/O-path switch. Multimodal's initializer also
    // sets this on classload (covering library use without Engine),
    // but the session builder is the documented home for process-wide
    // engine state.
    javax.imageio.ImageIO.setUseCache(false)
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toLong)
      .config("spark.ui.enabled", "false")
  }

  /** The engine's one session factory: every main and the test suites
    * take their session here. On a real cluster only the
    * master/shuffle-partition settings change; the engine code is
    * identical.
    *
    * Codegen cache: the bound is [[CodegenCacheMaxEntries]]. It is a
    * static SQL conf, read once when Spark's `CodeGenerator` is first
    * used, so it only applies if this factory builds the JVM's first
    * session. Measured at sf0.1 on a 4-core box (two passes over all
    * 211 registry queries in one JVM, `collect()` per query): pass 0
    * compiles ~2,330 classes; the second pass compiled 3,590 classes
    * (34 s of Janino) at the default bound and 24 with this one
    * (queries that put per-call values into generated code), and its
    * wall fell from 140 s to 82 s. The cost is what the cache then
    * holds after `System.gc()`: about 14 MB more metaspace and 70 MB
    * more heap, well inside the 8g default driver heap.
    */
  def session(appName: String = "graft", cores: Int = 32): SparkSession = {
    val spark = builder(appName, cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Read one table of the testdata star schema. Nanosecond parquet
    * timestamps (the `events.ts` column) are not representable in
    * Spark's TimestampType; with `nanosAsLong` they arrive as raw
    * nanos, which we convert to microsecond timestamps here so every
    * downstream operator sees a plain TimestampType.
    */
  // weak session keys + stopped-context purge (SessionMemo) so a
  // long-lived multi-session service never accumulates dead sessions'
  // plans
  private val tableCache = new SessionMemo[DataFrame]

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // cache the (immutable) logical plan per session+path: repeated
    // reads otherwise re-list the files and re-read parquet footers
    // for every query that touches the table
    val path = s"$dir/$name.parquet"
    tableCache.getOrCompute(spark, path)(normalizeTs(spark.read.parquet(path)))
  }

  /** Normalize the two physical forms `events.ts` has shipped as into
    * plain TimestampType: epoch-nanos LongType (legacy testdata,
    * `nanosAsLong`) and TIMESTAMP_NTZ (current testdata writes
    * `timestamp[us]` without the UTC flag). The session TZ is pinned
    * UTC, so the NTZ cast is value-preserving; streaming
    * `withWatermark` rejects NTZ, so this must happen at the source.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) {
      case (acc, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
        acc.withColumn("ts", nanosToTimestamp(org.apache.spark.sql.functions.col("ts")))
      case (acc, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        acc.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case (acc, _) => acc
    }

  /** Epoch-nanos long → microsecond timestamp. Integral `div` — plain
    * `/` is double division, and 2020s-era epoch nanos (~1.7e18) sit
    * above double's 2^53 exact range (ulp = 256 ns), which would skew
    * boundary-adjacent events by 1 µs.
    */
  def nanosToTimestamp(nanos: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    // subtract the sub-µs remainder in long arithmetic, then the
    // decimal division is exact (no fractional part to round)
    timestamp_micros(
      ((nanos - pmod(nanos, lit(1000L))).cast("decimal(38,0)") / 1000)
        .cast(org.apache.spark.sql.types.LongType))
  }

  /** Register every table in `dir` as a temp view (idempotent), so both
    * the DataFrame API and `spark.sql` can address them by name —
    * mirroring the reference's sheet/table registration
    * (`excel_tool.py:580-617`) Spark-natively.
    */
  def open(spark: SparkSession, dir: String): Unit =
    TableNames.foreach { t =>
      if (new java.io.File(s"$dir/$t.parquet").exists())
        table(spark, dir, t).createOrReplaceTempView(t)
    }
}
