package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the engine's scale-oriented defaults.
  *
  * local[N] here, but every knob is chosen as it would be on a large
  * cluster: AQE on (runtime re-planning, skew-join splitting, partition
  * coalescing), shuffle partitions sized to the parallelism rather than
  * the 200 default, and a broadcast threshold that lets dimension tables
  * (region/nation/supplier/part at our scale) broadcast instead of
  * shuffling the fact table.
  *
  * Streaming state-store provider dial (NOT defaulted here — it is a
  * per-job choice, and a WORKLOAD-shaped one): the default
  * HDFSBackedStateStoreProvider keeps each store as a JVM-heap map; the
  * alternative is `spark.sql.streaming.stateStore.providerClass` =
  * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
  * with `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing
  * .enabled=true` (commits ship only each batch's delta). Which wins
  * depends on what dominates, both measured (SCALING.md):
  *  - RESIDENT state that must be serialized across commits/restarts
  *    (quorum dedup parking keys over long watermarks): RocksDB wins
  *    3.9× ingest / 3.1× resume at 1M in-flight keys, near-linear to
  *    4M; crossover ~25k keys/store
  *    (`tools.StateResumeProbe <keys> <parts> <hdfs|rocksdb>`).
  *  - CHURN — every batch inserting fresh keys it rarely re-reads (the
  *    LSH near-dup gate): HDFSBacked wins 1.4–1.8× at EVERY measured
  *    size through 2.56M occupied buckets (320k keys/store, 13× past
  *    the resume crossover), flat per-doc cost; RocksDB's fixed
  *    JNI/changelog/compaction fee per batch never earns itself back
  *    (`tools.NearDupScaleProbe <hdfs|rocksdb> <reps...>`). Switch
  *    there only when resident BYTES per store threaten executor heap —
  *    RocksDB's off-heap capacity, not its commit speed.
  * Both crossovers were measured while every local checkpoint file still
  * cost a `chmod` fork and every rename a `readlink` fork (below). Those
  * forks weighed on HDFSBacked's many small delta/snapshot files more than
  * on RocksDB's changelog. Since the in-process binding the figures are
  * unverified: the crossovers may have moved.
  *
  * Local file system binding (always on): `fs.file.impl` and
  * `fs.AbstractFileSystem.file.impl` point at [[graft.fs.NioLocalFileSystem]]
  * and [[graft.fs.NioLocalFs]]. The Spark distribution ships no libhadoop,
  * so Hadoop's `RawLocalFileSystem` forks `chmod` for every file or
  * directory it creates and `readlink` for both ends of every FileContext
  * rename. A streaming micro-batch writes its offset and commit log and one
  * delta per stateful partition, each as temp file + rename, and each with
  * a Hadoop `.crc` and a Spark checkpoint checksum file beside it, which
  * doubles the file count. One 10 s benchmark catch-up run on a 4-core
  * host forked 3,853 processes (3,064 `readlink`, 785 `chmod`); with the
  * binding it forks 5, none for checkpoints, and each stateful
  * operator's commit falls ~20×.
  * The binding does both calls through `java.nio.file` and leaves the
  * bytes, the checksums and the rename protocol as they were (SCALING.md,
  * "Fork-free checkpoint I/O").
  * Scope: FileContext instances are not cached, so every checkpoint file
  * manager gets the binding. `FileSystem.get` is cached per scheme and
  * user, so a `file:` FileSystem created in this JVM before the session
  * (with a configuration that lacks the key) keeps the stock class for
  * FileSystem-API callers.
  */
object GraftSession {

  /** Partition width for spreading a CPU-bound kernel over a
    * single-split input (guide §2.5, input skew: "one huge
    * unsplittable file → repartition immediately after the read").
    * Cores-derived, never a constant — and used as an EXPLICIT
    * repartition count because an unpinned `repartition(col)` is an
    * AQE-coalescible exchange: with fixture-sized inputs the advisory
    * partition size folds it straight back to one partition and the
    * kernel re-serializes (measured: the minhash sketch stage kept
    * running 1-task behind `repartition($"doc_id")`; pinning the
    * count held all 32 slots). */
  def spreadWidth(spark: SparkSession): Int = {
    val conf = spark.conf.getOption("spark.sql.shuffle.partitions")
      .map(_.toInt).getOrElse(0)
    math.max(spark.sparkContext.defaultParallelism, conf)
  }

  def builderDefaults(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no native
      // type for; read the raw int64 nanos and convert in Tables.load.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.fs.NioLocalFs].getName)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builderDefaults(SparkSession.builder().master(s"local[$cores]").appName("graft"), cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** [[local]] with the FAIR scheduler — the serve/ingest isolation
    * dial, measured (SCALING.md round-12 co-tenant probe: +40% serve
    * capacity, tail halved, chain freshness −25% vs FIFO while a 50k-doc
    * oplog wave drains in the same JVM). Scheduler mode is a
    * CONTEXT-creation conf, so this is a separate entry point, not a
    * flag on [[local]]; pools spring into existence on first use with
    * equal weight-1 shares (no allocation file needed). Assign work to
    * pools with [[inPool]].
    */
  def localFair(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builderDefaults(
        SparkSession.builder().master(s"local[$cores]").appName("graft-fair"), cores)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with the calling thread's scheduler pool set to `pool`,
    * restoring the previous value after. The pool is a thread-LOCAL
    * Spark property: a STREAMING query started inside `body` inherits it
    * onto its micro-batch thread for the query's whole lifetime, so
    * `inPool(s, "ingest") { chain.start() }` + `inPool(s, "serve")
    * { serveQuery.start() }` is the complete wiring of the isolation
    * dial (under [[localFair]]; under FIFO the property is carried but
    * ignored by the scheduler). SchedulerPoolSpec pins the inheritance —
    * the behavior the SCALING.md co-tenant numbers rest on.
    */
  def inPool[T](spark: SparkSession, pool: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try body finally sc.setLocalProperty("spark.scheduler.pool", prev)
  }

  /** Per-QUERY shuffle/state partition count: sets
    * `spark.sql.shuffle.partitions` for the duration of `body`,
    * restoring after — same pinning mechanics as
    * [[withStateProvider]] (a streaming query clones its session conf
    * at start), so wrapping one stage's `.start()` gives THAT stage
    * its own state-store count while the rest of the chain keeps the
    * chain-wide dial. This is the per-stage form of
    * `PipelineE2E.startLive(chainShufflePartitions)`: state partition
    * count is a per-STORE sizing decision (state volume ÷ partition ≫
    * per-partition commit floor), and the chain's stages carry very
    * different state volumes (the gate's band buckets ≫ the budget
    * ledger at equal doc counts). */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogConf =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Per-STAGE state-store provider selection: sets the provider confs
    * for the duration of `body`, restoring the previous values after. A
    * streaming query pins its session conf AT START (MicroBatchExecution
    * clones the session), so wrapping just one stage's `.start()` gives
    * THAT query the provider while the rest of the chain keeps the
    * session default — the dial the scaladoc table above implies is per
    * WORKLOAD, wired per QUERY: resident-state stages (the LWW apply
    * store, corpus-linear by contract) take RocksDB at heap pressure
    * while churn stages (the LSH gate) keep HDFSBacked. `provider` is
    * `"hdfs"` or `"rocksdb"` (with changelog checkpointing on).
    * Exercised end-to-end by `PipelineE2EProbe sustain ... rocksapply`
    * (own JVM — the RocksDB JNI has a known benign teardown race at
    * JVM exit, so it stays out of the shared test JVM);
    * StateProviderSpec pins the conf scoping semantics. */
  def withStateProvider[T](spark: SparkSession, provider: String)(body: => T): T = {
    val wanted: Map[String, String] = provider match {
      case "rocksdb" => Map(
        ProviderConf ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        ChangelogConf -> "true")
      case "hdfs" => Map(
        ProviderConf ->
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      case other => throw new IllegalArgumentException(
        s"unknown state-store provider '$other' (hdfs|rocksdb)")
    }
    val prev = wanted.keys.map(k => k -> spark.conf.getOption(k)).toMap
    wanted.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst handles column
  * pruning and predicate pushdown into the parquet row groups; at 100 TB
  * the same call against a partitioned table additionally gets partition
  * pruning for free.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extension: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ extension

  /** Parquet SCHEMA memo: `spark.read.parquet(path)` runs a footer
    * schema-inference JOB on every call — measured ~40–70 ms of job
    * span plus a driver gap, paid once per `load` per query, ~10–20 s
    * across a full 138-query bench for metadata that never changes.
    * Production declares schemas; this memo is the equivalent: infer
    * once per distinct (path, file length+mtime fingerprint), then
    * read with the explicit schema. The fingerprint keys out a path
    * whose file was overwritten (scratch fixtures in tests), so a
    * stale schema can never be served; DATA is always read from the
    * parquet — nothing about query RESULTS is memoized.
    *
    * Scope (round-19 ADVICE): the fingerprint walks `java.io.File`, so
    * it is only meaningful for LOCAL paths — a non-local URI (hdfs://,
    * s3a://) stats as nonexistent and the memo FALLS BACK to plain
    * inference rather than serving a constant-fingerprint stale entry.
    * The map is keyed by PATH with the fingerprint stored beside the
    * schema, so an overwritten file replaces (never accumulates
    * beside) its superseded entry, and the fold over directory
    * children is order-sensitive (sorted names, mixed 64-bit fold) —
    * the earlier XOR of child hashes was commutative and
    * self-cancelling for same-(mtime,len) sibling pairs. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, org.apache.spark.sql.types.StructType)]()

  /** Order-sensitive recursive (mtime, length, name) fingerprint of a
    * local path; None when the path does not resolve locally. */
  private def localFingerprint(path: String): Option[Long] = {
    val root = new java.io.File(path)
    if (!root.exists) return None
    def mix(h: Long, x: Long): Long = {
      var v = h ^ (x + 0x9e3779b97f4a7c15L + (h << 6) + (h >>> 2))
      v = (v ^ (v >>> 30)) * 0xbf58476d1ce4e5b9L
      v ^ (v >>> 27)
    }
    def walk(f: java.io.File, h0: Long): Long = {
      var h = mix(mix(mix(h0, f.getName.hashCode.toLong), f.lastModified), f.length)
      if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array.empty[java.io.File]).sortBy(_.getName)
          .foreach(c => h = walk(c, h))
      h
    }
    Some(walk(root, 1469598103934665603L))
  }

  private def memoSchema(
      spark: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    localFingerprint(path) match {
      case None => spark.read.parquet(path).schema   // non-local: always infer
      case Some(fp) =>
        val cur = schemaCache.get(path)
        if (cur != null && cur._1 == fp) cur._2
        else {
          val sch = spark.read.parquet(path).schema
          // a write during inference may have paired `fp` with another
          // file's schema: serve it this once, cache it only if unchanged
          if (localFingerprint(path).contains(fp))
            schemaCache.put(path, (fp, sch))   // replaces any superseded entry
          sch
        }
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    normalize(spark.read.schema(memoSchema(spark, path)).parquet(path), name)
  }

  /** Timestamp columns vary by generator vintage: events.ts has shipped
    * both as TIMESTAMP(NANOS) (surfaced as int64 nanos via the
    * nanosAsLong flag, truncated to µs here) and as TIMESTAMP(MICROS)
    * isAdjustedToUTC=false (surfaced as TIMESTAMP_NTZ). Normalize every
    * vintage to a µs TimestampType: with the session pinned to UTC the
    * NTZ→LTZ cast is epoch-identical, and oracles compare at epoch_us. */
  def normalize(df: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val tsFixed =
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df
    tsFixed.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(tsFixed)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  /** Streaming twin of [[load]]: reads `streamDir` as a file stream
    * with the table's PHYSICAL parquet schema (whatever vintage is on
    * disk), then applies the same normalization — so streaming specs
    * and pipelines see exactly the frame batch code sees. `schemaFrom`
    * points at any parquet written with the same vintage (usually the
    * testdata file the fixture was staged from). */
  def loadStream(spark: SparkSession, streamDir: String, name: String,
      schemaFrom: String): DataFrame =
    normalize(
      spark.readStream.schema(memoSchema(spark, schemaFrom)).parquet(streamDir), name)
}
