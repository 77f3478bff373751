package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.functions._

/** Incremental MATERIALIZED-VIEW maintenance over the event stream —
  * `foreachBatch` + idempotent partition-level upsert into a serving
  * table. This is the always-on twin of a nightly `GROUP BY` rebuild: the
  * daily (day × event_type) aggregate stays queryable and
  * seconds-fresh while each micro-batch touches ONLY the date partitions
  * it carries rows for. At 100 TB the full rebuild rescans years of
  * history per refresh; this path reads one micro-batch plus the handful
  * of affected partitions of the (tiny, pre-aggregated) serving table.
  *
  * Correctness mechanics:
  *  - the serving row is a MERGEABLE state: (n, exact DECIMAL(38,6) sum).
  *    Merging partial aggregates is associative/commutative, so any batch
  *    arrival order yields the same table — the same reason Spark's own
  *    partial aggregation is correct. The avg is derived at read time
  *    (never stored: an avg is not mergeable).
  *  - `foreachBatch` is at-least-once: a batch can re-run after a crash
  *    BETWEEN the serving write and the checkpoint commit. The upsert is
  *    idempotent AND crash-safe at any interior point via a WAL-style
  *    commit protocol (see the commit-protocol section below): a pending
  *    record is written atomically before any mutation, affected
  *    partitions are renamed aside as backups, and the single commit
  *    point is one atomic state-file flip — recovery restores the
  *    backups and the redelivered batch re-applies onto original data.
  *  - the writer holds the cross-process staging lock for the
  *    read-merge-write, so a concurrent batch reader of the serving table
  *    never interleaves with a half-written upsert (same discipline as
  *    every other staging area; a transactional table format replaces the
  *    lock at deployment scale).
  */
object MaterializedView {

  private val Exact = DecimalType(38, 6)

  /** Serving-table schema (data columns; `day` is the partition column). */
  private def servingSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("n", LongType),
    StructField("sum_value", Exact),
    StructField("day", DateType)))

  /** Aggregate ONE micro-batch to its mergeable per-(day, type) deltas. */
  private def batchDeltas(batch: DataFrame): DataFrame =
    batch.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Exact)).as("sum_value"))

  // --------------------------------------------------- commit protocol
  //
  // foreachBatch is at-least-once, and a naive "write data, then record
  // the batch id" leaves a crash window between the two in which a
  // redelivered batch double-counts. The upsert therefore runs a
  // WAL-style protocol around ONE atomically-replaced state file:
  //
  //   applied <id>                    — steady state
  //   pending <id> <prevId> <days…>   — written (atomic rename) BEFORE
  //                                     any data is touched
  //
  // Data changes happen only between `pending` and the atomic flip back
  // to `applied <id>`: each affected partition is first RENAMED aside to
  // `.bak_day=…` (rename is atomic), the merge writes fresh partitions,
  // and recovery on the next call — pending state found — deletes any
  // day dir that has a backup (it is at best a partial or uncommitted
  // rewrite), renames the backups home, and resets `applied <prevId>`,
  // after which the redelivered batch re-applies onto the ORIGINAL data.
  // The state-file flip is the single commit point; backups are deleted
  // only after it (leftovers are swept by the next recovery pass).

  // The protocol is generic over the partition column: st9 upserts
  // (day=…) count/sum partitions, st13 upserts (bucket=…) latest-per-key
  // partitions — same WAL, same recovery, different merge.

  private def stateFile(root: File) = new File(root, "_graft_state")

  private def readState(root: File): (String, Long, Long, Seq[String]) = {
    val f = stateFile(root)
    if (!f.exists()) ("applied", -1L, -1L, Nil)
    else {
      val parts = new String(java.nio.file.Files.readAllBytes(f.toPath)).trim.split("\\s+")
      parts(0) match {
        case "pending" => ("pending", parts(1).toLong, parts(2).toLong, parts.drop(3).toSeq)
        case _ => ("applied", parts(1).toLong, -1L, Nil)
      }
    }
  }

  private def writeState(root: File, content: String): Unit = {
    val tmp = new File(root, "_graft_state.tmp")
    java.nio.file.Files.write(tmp.toPath, content.getBytes)
    java.nio.file.Files.move(tmp.toPath, stateFile(root).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Undo a torn upsert (pending state) or sweep post-commit backup
    * leftovers (applied state). Idempotent; runs under the caller's lock.
    */
  private def recover(root: File, partCol: String): Long = {
    val dataDir = new File(root, "data")
    readState(root) match {
      case ("pending", _, prevId, parts) =>
        // each entry is "<value>:old" (partition existed when the batch
        // started) or "<value>:new" (it did not) — written before any
        // mutation, which is what disambiguates a crash BEFORE the
        // backup rename (live dir = original, keep) from a partial
        // write of a brand-new partition (live dir = garbage, delete)
        parts.foreach { tagged =>
          val Array(d, tag) = tagged.split(":", 2)
          val live = new File(dataDir, s"$partCol=$d")
          val bak = new File(dataDir, s".bak_$partCol=$d")
          if (bak.exists()) {
            // backup exists ⇒ live (if any) is an uncommitted rewrite
            graft.sources.Staging.deleteRecursively(live)
            require(bak.renameTo(live), s"recovery failed restoring $bak")
          } else if (tag == "new")
            // never existed before the batch ⇒ any live content is an
            // uncommitted partial write
            graft.sources.Staging.deleteRecursively(live)
          // else: old day, no backup ⇒ crash before its rename — original
        }
        writeState(root, s"applied $prevId")
        prevId
      case ("applied", id, _, _) =>
        Option(dataDir.listFiles).getOrElse(Array.empty)
          .filter(_.getName.startsWith(s".bak_$partCol="))
          .foreach(graft.sources.Staging.deleteRecursively)
        id
    }
  }

  /** The shared protocol core: recovery, the batch-id idempotence gate,
    * the write-ahead pending record, backup renames, the merge rewrite of
    * exactly the affected partitions, and the atomic commit flip — all
    * under the cross-process staging lock. `affected` lists the touched
    * partition values (bounded by construction in every caller: days ×
    * types for st9, ≤ [[LatestBuckets]] for st13); `merge` receives the
    * PREVIOUS content of those partitions (schema = `fullSchema`,
    * possibly empty) and returns their full fresh content.
    */
  private def runProtocol(
      spark: SparkSession, dir: String, batchId: Long,
      partCol: String, partType: DataType, affected: Seq[String],
      fullSchema: StructType)(merge: DataFrame => DataFrame): Unit = {
    val root = new File(dir)
    root.mkdirs()
    graft.sources.Staging.withExclusiveLock(root) {
      val lastApplied = recover(root, partCol)
      if (batchId > lastApplied) {
        if (affected.isEmpty) writeState(root, s"applied $batchId")
        else {
          val dataDir = new File(root, "data")
          // write-ahead: declare the batch and its affected partitions,
          // tagged by whether each existed BEFORE any mutation (the tag
          // is what recovery needs to tell "crash before backup" from
          // "partial write of a new partition")
          val partInfo = affected.map(v =>
            v -> new File(dataDir, s"$partCol=$v").exists())
          writeState(root, s"pending $batchId $lastApplied " +
            partInfo.map { case (v, old) => s"$v:${if (old) "old" else "new"}" }.mkString(" "))
          // move the current partitions aside; the merge reads THEM
          val baks = partInfo.collect { case (v, true) =>
            val live = new File(dataDir, s"$partCol=$v")
            val bak = new File(dataDir, s".bak_$partCol=$v")
            graft.sources.Staging.deleteRecursively(bak)
            require(live.renameTo(bak), s"backup rename failed for $live")
            v -> bak
          }
          val noPart = StructType(fullSchema.filterNot(_.name == partCol))
          val existing = baks
            .map { case (v, bak) =>
              spark.read.schema(noPart).parquet(bak.getAbsolutePath)
                .withColumn(partCol, lit(v).cast(partType))
            }
            .reduceOption(_.unionByName(_))
            .getOrElse(spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), fullSchema))
          val merged = merge(existing)
          merged
            .repartition(col(partCol))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy(partCol).parquet(dataDir.getAbsolutePath)
          // COMMIT: one atomic state flip, then post-commit cleanup
          writeState(root, s"applied $batchId")
          baks.foreach { case (_, bak) => graft.sources.Staging.deleteRecursively(bak) }
        }
      }
    }
  }

  /** Idempotent partition-level upsert of one micro-batch into the serving
    * table at `dir` — crash-safe at any point via the commit protocol
    * above. Public for the spec, which drives it directly with replayed
    * batch ids and crafted torn states.
    */
  /** Cheap pre-gate: has this batch id already been applied? Read under
    * the lock (recover also repairs any torn state on the way). The real
    * idempotence gate stays inside [[runProtocol]] — this exists so a
    * REDELIVERED batch skips its (cluster-scaled) delta aggregation
    * instead of computing it and then discarding it at the gate.
    */
  private def alreadyApplied(dir: String, partCol: String, batchId: Long): Boolean = {
    val root = new File(dir)
    root.mkdirs()
    graft.sources.Staging.withExclusiveLock(root) {
      recover(root, partCol) >= batchId
    }
  }

  def upsertBatch(batch: DataFrame, dir: String, batchId: Long): Unit =
    if (!alreadyApplied(dir, "day", batchId)) upsertBatchInner(batch, dir, batchId)

  private def upsertBatchInner(batch: DataFrame, dir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // the delta set is bounded (days-in-batch × event types) — collect
    // once so the merge below re-reads rows, not the batch plan
    val deltas = batchDeltas(batch)
    val rows = deltas.collect()
    val days = rows.map(_.getAs[java.sql.Date]("day").toString).distinct.toSeq
    val deltaDf = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), deltas.schema)
    runProtocol(spark, dir, batchId, "day", DateType, days, servingSchema) { existing =>
      existing
        .unionByName(deltaDf.select(col("event_type"), col("n"), col("sum_value"), col("day")))
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("n")).cast(LongType).as("n"),
          sum(col("sum_value")).cast(Exact).as("sum_value"))
    }
  }

  // --------------------------------------------------- st13: CDC snapshot

  /** Key-bucket count for the latest-per-key serving table. Bounded and
    * fixed: a micro-batch's affected-partition list is at most this long,
    * and the bucket of a key never moves (pmod of the id), so an upsert
    * touches only buckets its keys fall in. At 100 TB this is the knob
    * that trades upsert parallelism against partition count.
    */
  val LatestBuckets = 16

  /** Serving-table schema for the latest-per-key view (`bucket` is the
    * partition column).
    */
  private def latestSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("bucket", IntegerType)))

  /** One micro-batch reduced to its per-user latest record. The argmax is
    * `max(struct(ts, event_id, …))` — struct comparison is lexicographic,
    * so (ts, event_id) replicates q35's (ts DESC, event_id DESC) tie
    * order, and the trailing payload fields ride along without affecting
    * the order (event_id is unique). Mergeable state: max is
    * associative/commutative, so any batch arrival order converges to
    * the same snapshot — the CDC analogue of st9's count/sum merge.
    */
  private def batchLatest(batch: DataFrame): DataFrame =
    batch
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("m"))
      .select(col("user_id"), col("m.ts").as("ts"), col("m.event_id").as("event_id"),
        col("m.event_type").as("event_type"), col("m.value").as("value"),
        pmod(col("user_id"), lit(LatestBuckets)).cast(IntegerType).as("bucket"))

  /** Idempotent latest-per-key upsert of one micro-batch — the streaming
    * CDC-snapshot maintenance q35 computes from scratch: the serving
    * table always holds each key's most recent record, kept fresh per
    * micro-batch by rewriting ONLY the key buckets the batch touches.
    * Unlike st9's deltas (bounded days × types, safe to collect), the
    * per-key delta scales with the batch — it stays DISTRIBUTED: only the
    * affected bucket ids (≤ [[LatestBuckets]]) come to the driver, and
    * the delta is persisted so the bucket scan and the merge don't
    * re-execute the batch plan twice. Same WAL protocol, same crash
    * safety, same lock.
    */
  def upsertLatest(batch: DataFrame, dir: String, batchId: Long): Unit =
    if (!alreadyApplied(dir, "bucket", batchId)) upsertLatestInner(batch, dir, batchId)

  private def upsertLatestInner(batch: DataFrame, dir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val delta = batchLatest(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val buckets = delta.select(col("bucket")).distinct()
        .collect().map(_.getInt(0).toString).toSeq.sorted
      runProtocol(spark, dir, batchId, "bucket", IntegerType, buckets, latestSchema) {
        existing =>
          existing.unionByName(delta)
            .groupBy(col("user_id"))
            .agg(max(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("m"))
            .select(col("user_id"), col("m.ts").as("ts"), col("m.event_id").as("event_id"),
              col("m.event_type").as("event_type"), col("m.value").as("value"),
              pmod(col("user_id"), lit(LatestBuckets)).cast(IntegerType).as("bucket"))
      }
    } finally { delta.unpersist(); () }
  }

  /** Read the latest-per-key serving table in q35's output shape. */
  def readLatest(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(latestSchema).parquet(new File(dir, "data").getAbsolutePath)
      .select(col("user_id"), col("ts").cast("timestamp_ntz").as("ts"),
        col("event_type"), col("value"), col("event_id"))
      .orderBy(col("user_id"))

  /** st13 — drive the event stream through the CDC-snapshot maintenance
    * loop (AvailableNow drains the backlog), then return the serving
    * table — which must equal q35's from-scratch batch snapshot exactly.
    */
  def st13LatestSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val base = EventStreams.stagingDir("st13_latest")
    val serve = new File(base, "serve").getAbsolutePath
    val chk = new File(base, "chk").getAbsolutePath
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      EventStreams.gateParts(sfDir).toString)
    // KEY COMPLETENESS at the door: a latest-per-key snapshot cannot
    // attribute a NULL-keyed record (the bucket router and the state key
    // both need the id; the adversarial-events replay killed the stream
    // with ROW_VALUE_IS_NULL on one NULL user_id). Screened identically
    // in the oracle text — the st7 typed-gate posture.
    try EventStreams.eventStream(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => upsertLatest(b, serve, id))
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    readLatest(spark, serve)
  }

  /** Read the serving table (exact sums → derived avg, ordered). */
  def readServing(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(servingSchema).parquet(new File(dir, "data").getAbsolutePath)
      .select(col("day").cast("timestamp_ntz").as("day"), col("event_type"),
        col("n"),
        r6(col("sum_value").cast("double") / col("n")).as("avg_value"))
      .orderBy(col("day"), col("event_type"))

  /** st9 — drive the event stream through the maintenance loop
    * (AvailableNow drains the backlog), then return the serving table.
    * Stateless source → no watermark needed; exactly-once effect comes
    * from the checkpoint + the idempotent upsert.
    */
  def st9MvMaintenance(spark: SparkSession, sfDir: String): DataFrame = {
    val base = EventStreams.stagingDir("st9_mv")
    val serve = new File(base, "serve").getAbsolutePath
    val chk = new File(base, "chk").getAbsolutePath
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      EventStreams.gateParts(sfDir).toString)
    try EventStreams.eventStream(spark, sfDir)
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => upsertBatch(b, serve, id))
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    readServing(spark, serve)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st9_mv_maintenance" -> (st9MvMaintenance _),
    "st13_latest_snapshot" -> (st13LatestSnapshot _))

  val oracles: Map[String, String] = Map(
    // the maintained view must equal the from-scratch batch aggregate
    "st9_mv_maintenance" -> EventStreams.onValidEventTime(
      """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, event_type,
        |count(*) AS n,
        |round(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*)
        |  * 1e6) / 1e6 AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2 NULLS FIRST""".stripMargin),
    // the maintained snapshot must equal q35's from-scratch formulation
    "st13_latest_snapshot" -> EventStreams.onValidEventTime(
      """WITH r AS (SELECT user_id, ts, event_type, value, event_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events WHERE user_id IS NOT NULL)
        |SELECT user_id, ts, event_type, value, event_id
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin))
}
