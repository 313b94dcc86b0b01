package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.OplogEntry

/** The reference's whole production job
  * (`reference:src/main/java/org/flinkmon/main/MongoDBOplogTail.java:36-42`)
  * as one Structured Streaming pipeline — SURVEY.md §7.2's minimum
  * end-to-end slice:
  *
  *   tailable source → static pushdown filter (O3) → quorum dedup (O7)
  *   → fan-out to console (O11) + JSON-lines "index" sink (O12),
  *   with checkpointed offsets/state replacing the hand-rolled
  *   `time_d.repl_time` upserts (O8).
  *
  * Zero-egress modeling: the "tailable cursor" is a file-stream
  * directory of oplog-shaped rows (a real MicroBatchStream Mongo
  * connector would slot in behind [[source]]); "Elasticsearch" is a
  * JSON-lines directory per index. Both seams are single functions.
  *
  * Fan-out uses ONE query + `foreachBatch` (source is read once per
  * micro-batch, then written to both sinks) instead of two independent
  * writeStreams that would each re-read the source — SURVEY.md §7.4's
  * "two sinks, one pass".
  */
object OplogPipeline {

  /** O3: the static predicate the reference pushes into `find()`
    * (`MongoOplogTailMapper.java:90-94`): drop no-ops, the offset
    * table's own writes, and shard-migration internals. On a file
    * source Catalyst pushes this to the scan; on a connector BATCH read
    * it maps to `SupportsPushDownFilters`. A streaming connector read
    * gets no pushdown (Spark's micro-batch planner never offers filters
    * to a DSv2 scan), so there it runs as a Filter above the scan. */
  def staticFilter(df: DataFrame): DataFrame =
    df.filter(col("op") =!= "n" &&
      col("ns") =!= "time_d.repl_time" &&
      col("fromMigrate").isNull)

  /** the file-modeled tailable source (O1): unbounded read of an
    * oplog-shaped directory. `maxFilesPerTrigger` is the admission
    * control replacing the reference's 128-slot blocking queue. */
  def source(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(OplogEntry.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** the native-connector source (O1+O2 as an engine component): the
    * DSv2 oplog connector plans one partition per replica member from a
    * topology descriptor. Its readers apply pushed O3 filters on batch
    * reads only; on this streaming read [[staticFilter]] runs above the
    * scan — see [[graft.sources.OplogSourceProvider]]. */
  def connectorSource(spark: SparkSession, root: String, topology: String): DataFrame =
    spark.readStream
      .format("graft.sources.OplogSourceProvider")
      .option("topology", topology)
      .load(root)

  /** O12: the `{"data": <doc>}` Elasticsearch wrap
    * (`ElasticsearchEmbeddedNodeSink.java:60-63`). */
  def indexProjection(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("data"))
      .select(concat(lit("{\"data\":"), col("data"), lit("}")).as("line"))

  /** O12 per-batch index write, IDEMPOTENT under batch replay: each
    * micro-batch lands in its own partition-style `batch=<id>`
    * directory through the native DSv2 connector
    * ([[graft.sources.IndexSinkProvider]]) with the batch id as the
    * commit epoch — task files stage invisibly and the driver commit
    * REPLACES the epoch dir wholesale. `foreachBatch` is at-least-once
    * — a crash between sink write and checkpoint commit replays the
    * batch with the SAME batchId — so the replay replaces its own
    * (possibly partial) output instead of appending duplicate lines
    * (exactly-once index lines; the reference's per-record ES flush at
    * `ElasticsearchEmbeddedNodeSink.java:60-63` stays at-least-once).
    * Readers list the tree as a partitioned text/json table; `batch`
    * rides along as partition metadata. Pinned by
    * CheckpointResumeSpec's kill-between-write-and-commit case. */
  def writeIndexBatch(df: DataFrame, indexDir: String, batchId: Long,
      table: String = "oplog"): Unit =
    indexProjection(df)
      .withColumnRenamed("line", "value")   // the connector's declared schema
      .write.format("graft.sources.IndexSinkProvider")
      .option("path", s"$indexDir/$table")
      .option("epoch", batchId.toString)
      .mode("append").save()

  /** full pipeline: filter → watermark → quorum dedup → dual sink.
    * Returns the started query (caller owns lifecycle).
    *
    * `depthControlDir`, when set, swaps the fixed-depth quorum for the
    * LIVE-reconfigurable form ([[QuorumDedup.applyLive]] — arrival
    * decisions at the event-carried depth, timeout decisions deferred
    * to the post-stage at the depth in force THAT batch): the
    * deployment shape where a replica-set member can die below quorum
    * mid-run and an operator publishes the new depth through
    * [[QuorumDedup.DepthControl]] with no restart — the reference
    * leaks those keys forever (`MongoDBOplogSource.java:59` keeps its
    * counter map unbounded and its depth is captured once at
    * discovery, `MongoOplogTailMapper.java:64`).
    *
    * `sinkCoalesce` carries a NARROW-ROWS-ONLY contract: it bounds
    * files per epoch with `df.coalesce`, which COLLAPSES the upstream
    * stage into the writer tasks — correct and measured-helpful here
    * because the deduped rows are the fixed ~5-field oplog line, so
    * the collapsed stage does no per-row work worth parallelizing.
    * Do NOT imitate this dial for a wide-payload publish: the same
    * move on the chain's payload-parsing publish tripled apply batch
    * time (7.9 → 21.4 s, single-task payload parse — the round-18
    * coalesce-trap A/B, SCALING.md) and the fix there is
    * `repartition(n)`, which bounds files while keeping the upstream
    * stage parallel at one extra shuffle of trigger-bounded rows. */
  def run(
      spark: SparkSession,
      sourceDir: String,
      indexDir: String,
      checkpointDir: String,
      replicaDepth: Int,
      watermark: String = "10 seconds",
      echoToConsole: Boolean = false,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      depthControlDir: Option[String] = None,
      sinkCoalesce: Option[Int] = None): StreamingQuery = {
    import spark.implicits._
    implicit val s: SparkSession = spark

    // refuse pre-upgrade quorum checkpoints LOUDLY before the query
    // starts (the r17 identity re-key made them semantically stale)
    QuorumDedup.ensureStateFormat(spark, checkpointDir)

    val deduped = depthControlDir match {
      case Some(ctl) => QuorumDedup.applyLive(
        staticFilter(source(spark, sourceDir)).as[OplogEntry],
        ctl, replicaDepth, watermark)
      case None => QuorumDedup(
        staticFilter(source(spark, sourceDir))
          .withWatermark("ts", watermark)
          .as[OplogEntry],
        replicaDepth)
    }

    deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[OplogEntry], batchId: Long) =>
        val df = batch.toDF().persist()        // one read, two sinks
        try {
          if (echoToConsole) df.show(5, truncate = false)   // O11 print sink
          // sinkCoalesce bounds FILES PER EPOCH: a 1-second-trigger
          // ingest otherwise writes one file per state partition per
          // epoch, and the downstream apply stage's raw directory
          // listing grows with total file count — the extended soak's
          // named residual drift term (~2,600 files at 3.5-4 s per
          // listing by the late window). An epoch's volume is
          // trigger-bounded, so a handful of writers loses nothing at
          // steady state; size it to epoch volume at deployment scale.
          writeIndexBatch(sinkCoalesce.fold(df)(df.coalesce),
            indexDir, batchId)                              // O12 index sink
        } finally { df.unpersist(); () }
      }
      .start()
  }
}
