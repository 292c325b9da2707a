package graft.nodes

import graft.dag.{Ctx, GraftException, In, Node}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The common lifecycle of the three incremental index families
  * (MinHashIndexNode — near-dup, IvfIndexNode — dense ANN,
  * InvertedIndexNode — sparse lexical): fit once over the base corpus,
  * fold deltas in with `updateIndex`, serve queries from the persisted
  * index. The trait is what lets ONE streaming-maintenance driver
  * (`IndexMaintenance.maintainFromStream`) refresh all three from the same
  * live crawl — the day-2 production deployment where the delta is a
  * stream, not a batch.
  */
trait IncrementalIndex { self: Node =>
  /** Fold a delta batch into the fitted index (delta-sized work only).
    *
    * FRAME LIFETIME (all stored families): a DataFrame handed out by a
    * fitted index (a model's bucket/posting/ledger frame, a transform
    * output derived from one) stays readable for at most TWO index folds
    * after it was served — state lives in per-wave parquet segments that
    * a periodic fold consolidates, and the files a fold supersedes are
    * retired one fold later (disk stays bounded at ~2 fold generations).
    * A consumer holding a served frame across many `updateIndex`/
    * `deleteFromIndex` waves (≥ 2×`compactEvery`) must materialize it
    * (write/collect/checkpoint) before continuing maintenance; after
    * cache eviction a frame older than two folds fails with
    * FileNotFoundException. Re-reading through the model accessor after
    * each wave always serves the live generation. */
  def updateIndex(ctx: Ctx, delta: DataFrame): Unit

  /** Remove documents from the fitted index — the takedown/GDPR path that
    * CDC tombstones need: `CdcApply` deletes rows from the published CORPUS,
    * and without this the indexes keep serving the deleted documents until
    * a full refit. `deletes` carries the index's id column (extra columns
    * ignored); ids absent from the index are no-ops (tombstones may arrive
    * for never-indexed or already-deleted docs).
    *
    * Exactness contract per family (each documented at its override):
    * InvertedIndexNode is BIT-IDENTICAL to a from-scratch fit over the
    * post-delete corpus (exact df/N decrement); IvfIndexNode is identical
    * given the same frozen centroids; MinHashIndexNode is identical except
    * buckets previously dropped whole by `maxBucket` (they are not
    * resurrected); ClusterIndexNode removes the doc from the mapping while
    * RETAINING historical connectivity for the remaining members.
    *
    * Upsert composition: `updateIndex` is append-only, so re-crawling a
    * changed document must call `deleteFromIndex(ids)` FIRST and then
    * `updateIndex(newRows)` — `IndexMaintenance.maintainFromStream` does
    * exactly that when given a `deleteCol`. */
  def deleteFromIndex(ctx: Ctx, deletes: DataFrame): Unit

  /** The family's per-document RETENTION ledger: (frame, id column), where
    * the frame carries the id under the name `deleteFromIndex` consumes
    * plus whatever per-document columns the family keeps (each override
    * documents its schema). None (default) = the family has no
    * per-document state to evaluate a predicate over (e.g. ledgerless
    * sketches) — `deleteWhere` then refuses loudly. */
  protected def retentionLedger: Option[(DataFrame, String)] = None

  /** RETENTION deletes across the family: remove every indexed document
    * matching `condition` — a Spark SQL boolean over the family's ledger
    * columns (see `retentionLedger`). The "drop everything shorter than X /
    * older than Y / in cluster Z" path: at 100 TB the victim set must not
    * round-trip through the driver as an id list — the predicate IS the
    * victim set, evaluated distributed over the ledger and routed straight
    * into `deleteFromIndex` (so `deleteWhere(cond)` ==
    * `deleteFromIndex(ledger WHERE cond)` by construction, which is what
    * the per-family spec pins). NULL-safe: rows where the condition
    * evaluates NULL are KEPT (victims are rows where it is TRUE). Families
    * with a richer direct path (AggIndexNode's ledger filter) override. */
  def deleteWhere(ctx: Ctx, condition: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    val (ledger, idc) = retentionLedger.getOrElse(throw new GraftException(
      s"deleteWhere: this index family keeps no per-document ledger to " +
        s"evaluate '$condition' over (ledgerless state cannot decrement)"))
    val cond = coalesce(expr(condition).cast("boolean"), lit(false))
    deleteFromIndex(ctx, ledger.filter(cond).select(col(idc)).distinct())
  }

  /** Highest streaming micro-batch id already folded in — the foreachBatch
    * replay guard. Structured Streaming redelivers the last UNCOMMITTED
    * batch after a restart with the SAME batch id, so skipping
    * `batchId <= lastAppliedBatch` upgrades foreachBatch's at-least-once
    * delivery to effective exactly-once index maintenance (updateIndex is
    * an append — replaying it would double-count postings/df/assignments).
    */
  @volatile var lastAppliedBatch: Long = -1L

  /** Persist the replay-guard watermark next to the index frames so a
    * restart that `loadFitted`s a saved index also skips the batches that
    * index already contains. Called by each node's saveFitted. */
  protected def saveMaintenanceState(spark: org.apache.spark.sql.SparkSession,
                                     path: String): Unit = {
    import spark.implicits._
    Seq(lastAppliedBatch).toDF("last_applied_batch")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/maintenance")
  }

  /** Restore the replay-guard watermark if the save carries one (absent in
    * pre-maintenance saves — then no streamed batch was ever folded in). */
  protected def loadMaintenanceState(spark: org.apache.spark.sql.SparkSession,
                                     path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/maintenance")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    lastAppliedBatch =
      if (fs.exists(p)) spark.read.parquet(p.toString).collect().head.getLong(0)
      else -1L
  }
}

/** Streaming index MAINTENANCE — the live-crawl shape the streaming
  * SERVING twins (q144/q145) deliberately leave out: there the index is
  * refreshed batch-side and the QUERIES stream; here the DELTA streams and
  * the index itself is refreshed per micro-batch via foreachBatch.
  *
  * Why foreachBatch and not a stateful streaming plan: `updateIndex` is
  * already the exact delta-sized merge (bit-identical statistics for the
  * lexical index, frozen-centroid append for ANN, capped bucket union for
  * near-dup), and foreachBatch hands each micro-batch over as a plain
  * batch DataFrame — so the SAME code path serves batch and streaming
  * refresh, with no state store at all. Index state lives in the node
  * (persisted frames + parquet save/compact), not in Spark streaming
  * state, which is what makes it queryable BETWEEN micro-batches.
  *
  * Delivery contract: foreachBatch is at-least-once on restart; the
  * `lastAppliedBatch` guard (see IncrementalIndex) skips redelivered
  * batch ids, and `saveFitted`/`loadFitted` carry the watermark, giving
  * exactly-once maintenance across restarts when the caller checkpoints
  * (`checkpoint`) and saves the index at or after stream commit points.
  *
  * Ordering contract: micro-batches apply in batch-id order on one driver
  * thread (Structured Streaming serializes foreachBatch invocations), so
  * order-sensitive guards (MinHashIndexNode's bucket cap) behave exactly
  * as the same sequence of batch updateIndex calls would. For the
  * order-INSENSITIVE families (InvertedIndexNode's exact stats,
  * IvfIndexNode's frozen-centroid append) the final index is provably
  * independent of how the stream was split into micro-batches — which is
  * what lets q147/q148 pin streamed maintenance against the one-shot
  * batch oracles.
  *
  * Scale: each micro-batch does delta-sized work (sketch/tokenize/assign
  * the batch, one merge against the persisted index); `compactEvery` on
  * the node bounds lineage growth across a long-running stream exactly as
  * it does across batch generations.
  */
/** Streaming serving through a node's BATCH plan, one micro-batch at a
  * time — the foreachBatch pattern the in-stream serving plans point at
  * when they refuse: per-query rank windows, broadcast probe selection at
  * production configs (nProbe << nClusters over 10^3+ centroids), and any
  * other batch-only shape all run unchanged against each micro-batch,
  * because foreachBatch hands the batch over as a plain DataFrame.
  *
  * Results land as one parquet directory PER BATCH ID
  * (`<outPath>/batch-N`, overwrite mode) — idempotent under foreachBatch's
  * at-least-once redelivery: a replayed batch rewrites its own directory
  * instead of appending duplicates, so `<outPath>/batch-*` always reads
  * exactly-once output. Correct because a redelivered batch id carries
  * the same rows (the file-source offsets are checkpointed).
  *
  * The contract this trades away vs the in-stream plans: per-query work
  * must be complete WITHIN one micro-batch (a rank over queries split
  * across batches would rank each fragment separately) — file-source
  * micro-batches split on file boundaries, so batch queries by file and
  * this holds by construction.
  */
object StreamServing {
  def serveStream(
      ctx: Ctx,
      queries: DataFrame,
      outPath: String,
      transform: DataFrame => DataFrame,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      await: Boolean = true): StreamingQuery = {
    if (!queries.isStreaming)
      throw new GraftException(
        "StreamServing.serveStream needs a streaming query frame — run the batch plan directly otherwise")
    val writer = queries.writeStream
      .queryName(s"serve_${System.nanoTime()}")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        transform(batch).write.mode("overwrite").parquet(s"$outPath/batch-$batchId")
      }
      .trigger(trigger)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    val q = writer.start()
    if (await) q.awaitTermination()
    q
  }
}

/** Streaming CDC apply — MERGE a change-data stream into a PUBLISHED
  * dataset, one committed generation per micro-batch: the lakehouse
  * "MERGE INTO from a stream" shape. Each micro-batch reads the CURRENT
  * committed generation, runs [[MergeNode]] (keyed upsert + tombstone
  * deletes — base side never shuffles), and commits the merged result
  * through [[AtomicPublish]]: readers always observe a complete
  * generation, a crash mid-merge leaves only a dangling uncommitted dir,
  * and the previous generation stays as rollback.
  *
  * Exactly-once: the applied batch id is written INSIDE the generation
  * directory (`_cdc/`, underscore-prefixed so scans ignore it) BEFORE the
  * manifest swap — the marker commits atomically with the data. On
  * restart, the guard re-reads the committed generation's marker, so a
  * redelivered micro-batch (foreachBatch is at-least-once) is skipped
  * instead of double-applied — double-applying an upsert is idempotent,
  * but double-applying against a base that already absorbed it would
  * still churn a spurious generation, and replaying a batch AFTER later
  * batches landed would resurrect overwritten rows.
  *
  * Scale: per micro-batch cost is the MergeNode shape — a broadcast
  * DISTINCT of delta keys anti-joined into the base scan plus a
  * delta-sized insert union; the base is re-read per batch from parquet
  * (no long-lived cache to invalidate), so batch cadence should track
  * delta size, and `CompactFilesNode` handles the file-count hygiene of a
  * long-running apply loop.
  */
object CdcApply {
  import org.apache.spark.sql.SparkSession

  private def appliedBatch(spark: SparkSession, root: String): Long =
    AtomicPublish.currentGen(spark, root) match {
      case None => -1L
      case Some(g) =>
        val marker = new org.apache.hadoop.fs.Path(s"$root/gen-$g/_cdc")
        val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(marker)) -1L
        else spark.read.parquet(marker.toString).collect().head.getLong(0)
    }

  /** Apply a streaming CDC frame to the published dataset at `root`.
    * `merge` supplies the upsert/tombstone semantics (keys, deleteCol,
    * duplicate policy); `format` is the published dataset's storage format
    * (both the per-batch base read and the new generations use it). Blocks
    * until drained under the default AvailableNow trigger with
    * `await = true`.
    *
    * `numericProfiles` (mirrors `SinkNode`): each merged generation also
    * writes a NumericProfileNode fixed-grid histogram under `_numprofile/`
    * BEFORE the manifest swap — every CDC generation then carries a
    * mergeable distribution audit, and a HistDriftNode over consecutive
    * generations' profile tables is the daily "did this CDC wave shift the
    * corpus?" gate, answered without re-reading any generation.
    *
    * Checkpoint contract (the maintainFromStream rule): the applied-batch
    * marker is durable, but batch IDS are only stable when the source
    * offsets are checkpointed — a checkpoint-less re-invocation renumbers
    * every file from batch 0, and the replay guard would then skip NEW CDC
    * waves by POSITION (silent data loss). A checkpoint-less call against a
    * root that already carries applied batches is therefore REFUSED unless
    * the caller acknowledges positional skipping via
    * `positionalReplaySkipOk = true`. */
  def applyStream(
      ctx: Ctx,
      root: String,
      updates: DataFrame,
      merge: MergeNode,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      await: Boolean = true,
      format: String = "parquet",
      numericProfiles: Seq[NumericProfileNode.Spec] = Nil,
      positionalReplaySkipOk: Boolean = false): StreamingQuery = {
    if (!updates.isStreaming)
      throw new GraftException(
        "CdcApply.applyStream needs a streaming updates frame — for a batch delta run MergeNode directly")
    val spark = ctx.spark
    import spark.implicits._
    var last = appliedBatch(spark, root)
    if (checkpoint.isEmpty && last >= 0 && !positionalReplaySkipOk)
      throw new GraftException(
        s"CdcApply.applyStream: $root already carries applied CDC batches up " +
          s"to id $last but no checkpoint was given — a fresh source renumbers " +
          "batches from 0 and the replay guard would skip new waves by " +
          "POSITION (data loss). Pass the original checkpointLocation, or " +
          "acknowledge positional skipping with positionalReplaySkipOk = true")
    val writer = updates.writeStream
      .queryName(s"cdc_apply_${System.nanoTime()}")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > last) {
          val base = spark.read.format(format)
            .load(AtomicPublish.resolve(spark, root))
          val merged = merge.transform(ctx,
            In.single("base" -> base, "updates" -> batch))("result")
          AtomicPublish.publish(spark, root, { target =>
            merged.write.format(format).save(target)
            // marker inside the generation -> commits with the manifest swap
            Seq(batchId).toDF("batch_id").coalesce(1)
              .write.parquet(s"$target/_cdc")
            // profile the just-written files (one scan) rather than
            // re-executing the merge plan a second time
            if (numericProfiles.nonEmpty)
              new NumericProfileNode(numericProfiles)
                .transform(ctx, In.single("df" ->
                  spark.read.format(format).load(target)))("result")
                .coalesce(1).write.mode("overwrite").parquet(s"$target/_numprofile")
          })
          last = batchId
        }
      }
      .trigger(trigger)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    val q = writer.start()
    if (await) q.awaitTermination()
    q
  }
}

/** MERGE-ON-READ streaming CDC — the 100 TB answer to [[CdcApply]]'s one
  * structural cost: copy-on-write re-reads and REWRITES the whole published
  * base per micro-batch, so a daily CDC wave against a 100 TB corpus pays a
  * 100 TB write for a megabyte of change. Merge-on-read inverts the trade
  * (the Iceberg/Delta MoR shape, and the corpus-side twin of
  * ClusterIndexNode's overlay rebase):
  *
  *   - each micro-batch commits ONLY its normalized delta (payload +
  *     `__mor_deleted` tombstone flag) as an overlay inside the live
  *     generation (`gen-N/_deltas/delta-<batchId>`, atomic dir rename —
  *     [[AtomicPublish.publishDelta]]) — O(delta) write, base untouched;
  *   - readers resolve through [[MorCdc.read]] / [[MorSourceNode]]: the
  *     newest overlay version of each key wins over older overlays and the
  *     base (row_number over `__seq` desc), tombstone winners drop the key.
  *     The base side is anti-joined against the BROADCAST distinct overlay
  *     keys — the base never shuffles, exactly MergeNode's scale shape,
  *     evaluated lazily at read instead of materialized at write;
  *   - every `compactEvery` committed overlays, the resolved view is folded
  *     into a full next generation through [[AtomicPublish.publish]] (one
  *     copy-on-write amortized over `compactEvery` waves); the superseded
  *     generation — overlays included — remains the rollback point.
  *
  * Exactly-once: a replayed micro-batch finds its `delta-<batchId>` dir (or
  * a compacted generation whose `_cdc` marker already covers it) and is
  * skipped; the overlay commit is one atomic rename, so a crash mid-write
  * leaves only an invisible `.tmp-` dir.
  *
  * Read contract: a MoR dataset must be read through [[MorSourceNode]] —
  * a plain SourceNode sees the base generation only (a CONSISTENT but stale
  * snapshot; underscore-prefixed overlays are invisible to plain scans).
  * Outstanding overlays are bounded by `compactEvery`, which is what keeps
  * the read-side key broadcast and the per-key window delta-sized.
  *
  * Within-batch semantics match MergeNode exactly: an upsert and a
  * tombstone for the same key in one batch → the upsert wins; duplicate
  * non-tombstone keys follow `onDuplicate` ("error" embeds the loud plan
  * guard, "last_wins" keeps the highest `orderCol`).
  */
object MorCdc {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  val DeletedCol = "__mor_deleted"

  /** Overlay-vs-base schema compatibility — the evolution contract.
    *
    * ADDITIVE evolution only: an overlay may CARRY COLUMNS THE BASE LACKS
    * (a CDC feed that starts shipping a new field mid-corpus — readers see
    * the new column, pre-evolution rows null-fill, the next compaction
    * folds it into the base schema), but it must always carry EVERY base
    * column with the base's type. A missing base column is a partial
    * payload — null-filling it would corrupt untouched fields of upserted
    * rows — and a retyped column would make the resolved union ambiguous;
    * both are refused loudly. `allowNew = false` additionally refuses the
    * new columns themselves (the write-path default: evolution must be an
    * explicit operator decision, not a malformed feed slipping through). */
  private[graft] def checkOverlaySchema(
      base: org.apache.spark.sql.types.StructType,
      overlay: org.apache.spark.sql.types.StructType,
      where: String, allowNew: Boolean): Unit = {
    val over = overlay.fields.map(f => f.name -> f.dataType).toMap
    val missing = base.fields.filterNot(f => over.contains(f.name))
    if (missing.nonEmpty)
      throw new GraftException(
        s"$where: CDC overlay is missing base column(s) " +
          s"${missing.map(_.name).mkString(", ")} — a partial payload would " +
          "null-fill untouched fields of upserted rows. Ship the full row " +
          "(schema evolution may only ADD columns)")
    val retyped = base.fields.filter(f =>
      over.contains(f.name) && over(f.name) != f.dataType)
    if (retyped.nonEmpty)
      throw new GraftException(
        s"$where: CDC overlay retypes base column(s) " +
          retyped.map(f => s"${f.name} (${f.dataType.simpleString} -> " +
            s"${over(f.name).simpleString})").mkString(", ") +
          " — type changes are not resolvable merge-on-read; cast in the " +
          "feed or republish the base")
    if (!allowNew) {
      val baseNames = base.fieldNames.toSet
      val extras = overlay.fields.map(_.name)
        .filterNot(n => baseNames.contains(n) || n == DeletedCol)
      if (extras.nonEmpty)
        throw new GraftException(
          s"$where: CDC overlay adds column(s) ${extras.mkString(", ")} the " +
            "base does not have — pass allowEvolution = true to evolve the " +
            "corpus schema additively (readers see the new columns, " +
            "pre-evolution rows null-fill, the next compaction folds them " +
            "into the base)")
    }
  }

  /** One winner per key within a single batch (see class doc). */
  private[graft] def normalizeBatch(batch: DataFrame, merge: MergeNode): DataFrame = {
    val keyCols = merge.keys.map(col)
    val withFlag = merge.deleteCol match {
      case Some(c) => batch.withColumn(DeletedCol,
        coalesce(col(c).cast("boolean"), lit(false))).drop(c)
      case None => batch.withColumn(DeletedCol, lit(false))
    }
    val w = Window.partitionBy(keyCols: _*)
    val guarded = merge.onDuplicate match {
      case "last_wins" => withFlag
      case _ => // loud in-plan guard, evaluated only on a duplicate row
        withFlag
          .withColumn("__kc", sum(when(!col(DeletedCol), 1L).otherwise(0L)).over(w))
          .filter(org.apache.spark.sql.functions.expr(
            "__kc <= 1 or isnotnull(assert_true(false, " +
              "'mor merge: duplicate non-tombstone update keys — one key must " +
              "upsert one row (pass onDuplicate=last_wins with orderCol)'))"))
          .drop("__kc")
    }
    // non-tombstones outrank tombstones (upsert-wins); recency among upserts
    val order = col(DeletedCol).asc +: merge.orderCol.map(c => col(c).desc).toSeq
    guarded.withColumn("__rn", row_number().over(w.orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The resolved merge-on-read view: base ⊕ committed overlays. Lazy —
    * this is a plan, not a materialization; MorSourceNode wraps it.
    *
    * `maxDeltas` is the broadcast-safety guard: the read plan broadcasts
    * the overlay keys and unions one frame per overlay, which is only the
    * right plan while outstanding overlays stay delta-sized — a root left
    * uncompacted for hundreds of waves would quietly degrade into a
    * broadcast-OOM risk and an N-deep union. The read fails LOUDLY past
    * the bound instead (compact, or raise the bound deliberately). */
  def read(spark: SparkSession, root: String, keys: Seq[String],
           format: String = "parquet", maxDeltas: Int = 64,
           asOfBatch: Option[Long] = None): DataFrame = {
    // overlay-level time travel: resolve only the overlays committed at or
    // before `asOfBatch` — the audit/debug read ("what did the corpus serve
    // after wave N?"). Only UNFOLDED history is addressable: a compaction
    // folds overlays into the next base generation, so a batch below the
    // generation's `_cdc` watermark no longer has a reconstructible
    // pre-state here — refuse toward generation time travel (the rollback
    // generation keeps one fold of history).
    asOfBatch.foreach { n =>
      val folded = foldedThrough(spark, root)
      if (n < folded)
        throw new GraftException(
          s"MorCdc.read: asOfBatch = $n predates the last compaction " +
            s"(folded through batch $folded at $root) — that overlay " +
            "history is inside the base now. Read the rollback generation " +
            "via SourceNode time travel, or compact less eagerly")
    }
    resolveOver(spark, root,
      spark.read.format(format).load(AtomicPublish.resolve(spark, root)),
      keys, format, maxDeltas, asOfBatch)
  }

  /** Highest batch id folded into the current generation's base, -1 if none
    * (the generation's `_cdc` marker). */
  private def foldedThrough(spark: SparkSession, root: String): Long =
    AtomicPublish.currentGen(spark, root) match {
      case None => -1L
      case Some(g) =>
        val marker = new org.apache.hadoop.fs.Path(s"$root/gen-$g/_cdc")
        val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(marker)) -1L
        else spark.read.parquet(marker.toString).collect().head.getLong(0)
    }

  /** Overlay resolution over a CALLER-SUPPLIED base frame — the composition
    * point for data skipping (StatsPrunedSourceNode prunes base FILES, then
    * resolves overlays on top): a row predicate commutes with the resolved
    * view `(base ∖ overlayKeys) ∪ overlayWinners`, so any base subframe
    * that conservatively contains the predicate's base rows yields the
    * exact filtered view once the predicate is re-applied on top. */
  private[graft] def resolveOver(spark: SparkSession, root: String,
                                 base: DataFrame, keys: Seq[String],
                                 format: String, maxDeltas: Int,
                                 asOfBatch: Option[Long] = None): DataFrame = {
    val deltas = asOfBatch.fold(AtomicPublish.listDeltas(spark, root))(n =>
      AtomicPublish.listDeltas(spark, root).filter(_._1 <= n))
    if (deltas.size > maxDeltas)
      throw new GraftException(
        s"MorCdc.read: ${deltas.size} outstanding overlays at $root exceed " +
          s"maxDeltas = $maxDeltas — the broadcast/union read plan degrades " +
          "past delta-sized overlays. Run MorCdc.compact (or applyStream " +
          "with compactEvery > 0), or raise maxDeltas deliberately")
    if (deltas.isEmpty) base
    else {
      val overlay = deltas.map { case (id, path) =>
        val d = spark.read.format(format).load(path)
        // read side tolerates committed ADDITIVE evolution (extra columns
        // surface on the resolved view, base rows null-fill); partial or
        // retyped overlays are refused — see checkOverlaySchema
        checkOverlaySchema(base.schema, d.schema,
          s"MorCdc.read($root, delta-$id)", allowNew = true)
        d.withColumn("__seq", lit(id))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      // newest overlay version of each key wins; __seq is distinct across
      // overlays and keys are unique within one (normalizeBatch), so the
      // window is deterministic
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__seq").desc)
      val winners = overlay.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
      // the base never shuffles: anti-join against the broadcast overlay keys
      val kept = base.join(broadcast(overlay.select(keys.map(col): _*).distinct()),
        keys, "left_anti")
      kept.unionByName(winners.filter(!col(DeletedCol))
        .drop(DeletedCol, "__seq", "__rn"), allowMissingColumns = true)
    }
  }

  /** Highest batch id already durable at `root` — committed overlays or a
    * compacted generation's `_cdc` marker. */
  private def appliedBatch(spark: SparkSession, root: String): Long =
    (foldedThrough(spark, root) +:
      AtomicPublish.listDeltas(spark, root).map(_._1)).max

  /** Apply a streaming CDC frame merge-on-read. Same signature family as
    * [[CdcApply.applyStream]]; `compactEvery` bounds outstanding overlays
    * (fold into a full generation once that many have accumulated).
    * `compactEvery = 0` never auto-compacts (call [[compact]] on a
    * maintenance cadence instead). `numericProfiles` mirrors CdcApply:
    * each COMPACTED generation stamps a `_numprofile/` histogram from the
    * just-written fold (overlay commits stay O(delta) — profiling every
    * overlay would re-read the base per wave, exactly what MoR avoids).
    *
    * Checkpoint contract: same as [[CdcApply.applyStream]] — the durable
    * applied-batch watermark (committed `delta-N` dirs / `_cdc` marker)
    * only composes with STABLE batch ids; a checkpoint-less re-invocation
    * renumbers from 0 and would silently skip new waves by position, so it
    * is refused on a root with applied batches unless the caller passes
    * `positionalReplaySkipOk = true`.
    *
    * Schema evolution (`allowEvolution`): a wave whose schema ADDS columns
    * the base lacks is refused by default and committed when the flag is
    * set — readers then surface the new columns (pre-evolution rows
    * null-fill) and the next compaction folds them into the base schema.
    * Partial payloads (missing base columns) and retyped columns are
    * always refused ([[checkOverlaySchema]]). A Spark file stream carries
    * ONE fixed reader schema, so an evolved feed arrives by restarting
    * `applyStream` with the evolved schema against the SAME checkpoint —
    * offsets are schema-independent, absorbed waves are not redelivered. */
  def applyStream(
      ctx: Ctx,
      root: String,
      updates: DataFrame,
      merge: MergeNode,
      compactEvery: Int = 8,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      await: Boolean = true,
      format: String = "parquet",
      numericProfiles: Seq[NumericProfileNode.Spec] = Nil,
      positionalReplaySkipOk: Boolean = false,
      allowEvolution: Boolean = false,
      // auto-compaction skipping manifest + layout (see [[compact]])
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      layoutBy: Seq[String] = Nil,
      layoutPartitions: Option[Int] = None,
      layoutZOrder: Boolean = false): StreamingQuery = {
    if (!updates.isStreaming)
      throw new GraftException(
        "MorCdc.applyStream needs a streaming updates frame — for a batch delta commit one overlay via AtomicPublish.publishDelta")
    val spark = ctx.spark
    var last = appliedBatch(spark, root)
    if (checkpoint.isEmpty && last >= 0 && !positionalReplaySkipOk)
      throw new GraftException(
        s"MorCdc.applyStream: $root already carries applied CDC batches up " +
          s"to id $last but no checkpoint was given — a fresh source renumbers " +
          "batches from 0 and the replay guard would skip new waves by " +
          "POSITION (data loss). Pass the original checkpointLocation, or " +
          "acknowledge positional skipping with positionalReplaySkipOk = true")
    // write-side evolution gate state: the base schema is fixed per
    // generation, so cache it and re-read only after a fold (one footer
    // read per generation, not a per-batch listing). The sentinel must not
    // collide with an UNPUBLISHED root's currentGen = -1 (ADVICE r13: the
    // old `-1L` sentinel made the first batch skip the schema read and NPE
    // in checkOverlaySchema); a CDC-bootstrapped root (deltas before any
    // published base) has no base schema to gate against — the first
    // compaction establishes it, and the read side validates per overlay.
    var schemaGen = Long.MinValue
    var baseSchema: Option[org.apache.spark.sql.types.StructType] = None
    val writer = updates.writeStream
      .queryName(s"mor_cdc_${System.nanoTime()}")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > last) {
          val delta = normalizeBatch(batch, merge)
          // compare against the LIVE base schema (a mid-stream compaction
          // may have folded earlier evolution in)
          val g = AtomicPublish.currentGen(spark, root).getOrElse(-1L)
          if (g != schemaGen) {
            baseSchema =
              if (g >= 0) Some(spark.read.format(format)
                .load(AtomicPublish.resolve(spark, root)).schema)
              else // unpublished root: a plain dir's loose files still gate;
                   // a bare CDC-bootstrapped root has no base schema yet
                scala.util.Try(spark.read.format(format).load(root).schema)
                  .toOption
            schemaGen = g
          }
          baseSchema.foreach(checkOverlaySchema(_, delta.schema,
            s"MorCdc.applyStream($root, batch $batchId)",
            allowNew = allowEvolution))
          AtomicPublish.publishDelta(spark, root, batchId, { target =>
            delta.write.format(format).save(target)
          })
          if (compactEvery > 0 &&
              AtomicPublish.listDeltas(spark, root).size >= compactEvery)
            compact(ctx, root, merge.keys, batchId, format, numericProfiles,
              statsColumns, bloomColumns, layoutBy = layoutBy,
              layoutPartitions = layoutPartitions, layoutZOrder = layoutZOrder)
          last = batchId
        }
      }
      .trigger(trigger)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    val q = writer.start()
    if (await) q.awaitTermination()
    q
  }

  /** Fold the resolved view into a full next generation (the amortized
    * copy-on-write): one publish, `_cdc` marker = `throughBatch` so the
    * replay guard survives the fold, overlays retired with the superseded
    * generation (kept as rollback).
    *
    * Data skipping ACROSS folds: `statsColumns`/`bloomColumns` re-stamp the
    * `_filestats` manifest on the just-written generation (the SinkNode
    * machinery — without it a compaction would silently kill file skipping
    * exactly when the corpus churns most), and `layoutBy` range-repartitions
    * the fold on those columns first so the re-stamped min/max stay
    * SELECTIVE — overlay rows land beside their key range instead of
    * scattering every file's span. Both are per-fold costs over data the
    * fold rewrites anyway. */
  def compact(ctx: Ctx, root: String, keys: Seq[String],
              throughBatch: Long, format: String = "parquet",
              numericProfiles: Seq[NumericProfileNode.Spec] = Nil,
              statsColumns: Seq[String] = Nil,
              bloomColumns: Seq[String] = Nil,
              bloomExpectedItems: Long = 1000000L,
              bloomFpp: Double = 0.01,
              layoutBy: Seq[String] = Nil,
              layoutPartitions: Option[Int] = None,
              // multi-dimensional fold layout (the OPTIMIZE ZORDER shape):
              // layoutBy's 2 or 3 columns become morton dimensions instead
              // of a lexicographic range — every dimension's min/max stats
              // stay selective, not just the leading column's
              layoutZOrder: Boolean = false): Long = {
    val spark = ctx.spark
    import spark.implicits._
    if (layoutZOrder && layoutBy.size != 2 && layoutBy.size != 3)
      throw new GraftException(
        s"MorCdc.compact: layoutZOrder needs 2 or 3 layoutBy columns " +
          s"(morton dimensions), got ${layoutBy.size}")
    // claim the next generation BEFORE listing the overlays this fold
    // absorbs (read() lists eagerly): an overlay racing to commit after the
    // claim is refused/re-validated away by publishDelta and replays, so a
    // committed-but-unlisted overlay can never strand inside the retired
    // generation (ADVICE r13)
    val (cur, next) = AtomicPublish.acquireClaim(spark, root)
    val merged = read(spark, root, keys, format)
    val resolved =
      if (layoutBy.isEmpty) merged
      else if (layoutZOrder)
        new ZOrderNode(layoutBy(0), layoutBy(1), partitions = layoutPartitions,
          keepKey = false, colC = layoutBy.lift(2))
          .transform(ctx, In.single("df" -> merged))("result")
      else layoutPartitions.fold(
        merged.repartitionByRange(layoutBy.map(col): _*))(n =>
        merged.repartitionByRange(n, layoutBy.map(col): _*))
    AtomicPublish.commitClaimed(spark, root, cur, next, { target =>
      resolved.write.format(format).save(target)
      if (statsColumns.nonEmpty || bloomColumns.nonEmpty)
        FileStatsWriter.write(spark, target, format, Map.empty,
          statsColumns, bloomColumns, bloomExpectedItems, bloomFpp)
      Seq(throughBatch).toDF("batch_id").coalesce(1)
        .write.parquet(s"$target/_cdc")
      // profile the just-written fold (one scan of the new generation),
      // the CdcApply convention — commits with the manifest swap
      if (numericProfiles.nonEmpty)
        new NumericProfileNode(numericProfiles)
          .transform(ctx, In.single("df" ->
            spark.read.format(format).load(target)))("result")
          .coalesce(1).write.mode("overwrite").parquet(s"$target/_numprofile")
    })
  }
}

/** Scan of a merge-on-read published dataset (see [[MorCdc]]): resolves the
  * committed base generation PLUS its outstanding delta overlays into the
  * live view. The MoR-aware counterpart of SourceNode — which, on the same
  * root, reads the consistent-but-stale base snapshot only. */
class MorSourceNode(val path: String, val keys: Seq[String],
                    val format: String = "parquet",
                    val maxDeltas: Int = 64,
                    // overlay-level time travel: resolve only overlays with
                    // id <= asOfBatch (unfolded history only — see
                    // MorCdc.read; generation time travel covers the rest)
                    val asOfBatch: Option[Long] = None) extends Node {
  require(keys.nonEmpty, "mor_source: keys must be non-empty")
  override protected def defaultName: String = "mor_source"
  override def persistableOutput: Boolean = false // scan — never cache raw
  val inputs: Seq[graft.dag.Port] = Nil
  val outputs = Seq(graft.dag.Port("result"))
  override def jsonKind: Option[String] = Some("mor_source")
  override def jsonParams: Map[String, Any] =
    Map("path" -> path, "keys" -> keys, "format" -> format,
      "maxDeltas" -> maxDeltas, "asOfBatch" -> asOfBatch.orNull)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] =
    Map("result" -> MorCdc.read(ctx.spark, path, keys, format, maxDeltas, asOfBatch))
}

/** STREAMING tail of a merge-on-read root — the consumer side MoR was
  * missing: downstream pipelines (index maintenance, replicas, audits)
  * subscribe to a published corpus's CHANGE FEED instead of polling batch
  * reads. The overlay commit protocol already is a durable log — each CDC
  * wave lands as one atomically-renamed `delta-<id>` dir inside the live
  * generation — so the tail is a plain file stream over
  * `<gen>/_deltas/delta-*`: committed overlays surface whole (the rename
  * makes files appear at once, `.tmp-` debris is hidden by dot-prefix
  * rules), offsets checkpoint like any file source (exactly-once), and
  * each change row carries the full payload plus `__mor_deleted` — exactly
  * the CDC shape `IndexMaintenance.maintainFromStream(deleteCol =
  * MorCdc.DeletedCol)` consumes, so every index family can maintain itself
  * straight off a MoR corpus (q187).
  *
  * Contract: by default the tail follows ONE generation's overlay sequence
  * (the one committed when the stream starts). A compaction folds
  * outstanding overlays into a new generation and retires the old dir —
  * restart the tail against the new generation afterwards (consumers that
  * kept their checkpoint simply see an empty new `_deltas`; rows already
  * absorbed are never redelivered because absorbed overlay DIRS never
  * reappear).
  *
  * `followCompactions = true` lifts the restart requirement: the stream
  * globs `gen-*`/_deltas across generations, so when a compaction publishes
  * gen-(N+1) the SAME running query keeps consuming the new generation's
  * overlays with no restart and no redelivery. This is change-feed
  * consistent because the fold introduces nothing new — gen-(N+1)'s base is
  * exactly gen-N's base ⊕ gen-N's overlays, all of which the tail already
  * delivered — so `base(startGen) ⊕ every delivered overlay` remains the
  * live resolved view across any number of folds. Overlay dirs of
  * generations RETIRED before the stream started are filtered out by
  * generation number (their content is already inside the start base);
  * the filter is a plan-level predicate on `input_file_name()`, so the
  * skipped files cost one delta-sized read at most once. Retention bound:
  * `AtomicPublish.publish` deletes gen-(cur-1) when committing gen-(cur+1),
  * so a follower must stay within two generations of the head (the
  * standard retention-vs-subscriber contract; size `compactEvery` × the
  * CDC cadence accordingly).
  *
  * Ordering across overlays follows file modification time (the file-source
  * contract) — commit-time order for any real CDC cadence; keys are unique
  * WITHIN an overlay by construction (normalizeBatch), so intra-overlay
  * file splits cannot reorder a key's versions.
  */
class MorTailNode(val path: String, val format: String = "parquet",
                  val maxFilesPerTrigger: Option[Int] = None,
                  val followCompactions: Boolean = false,
                  // attach each row's overlay id (totally ordered across
                  // generations) under this name — what lets a consumer
                  // fold MANY overlays into one micro-batch and still
                  // apply them in commit order (net-resolution per key in
                  // IndexMaintenance.maintainFromStream)
                  val waveIdCol: Option[String] = None) extends Node {
  override protected def defaultName: String = "mor_tail"
  override def persistableOutput: Boolean = false // streaming source
  val inputs: Seq[graft.dag.Port] = Nil
  val outputs = Seq(graft.dag.Port("result"))
  override def jsonKind: Option[String] = Some("mor_tail")
  override def jsonParams: Map[String, Any] =
    Map("path" -> path, "format" -> format,
      "maxFilesPerTrigger" -> maxFilesPerTrigger.orNull,
      "followCompactions" -> followCompactions,
      "waveIdCol" -> waveIdCol.orNull)
  override def transform(ctx: Ctx, in: In): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.{col, input_file_name, regexp_extract}
    val spark = ctx.spark
    val startGen = AtomicPublish.currentGen(spark, path).getOrElse(
      throw new GraftException(
        s"mor_tail '$name': $path is not a published dataset — the tail " +
          "follows the committed generation's overlay log"))
    val gen = AtomicPublish.resolve(spark, path)
    // change rows = base payload + the tombstone flag (normalizeBatch
    // shape), widened by any column committed overlays have ADDED (schema
    // evolution — pre-evolution overlay files null-fill by parquet by-name
    // resolution). A column that first appears in a FUTURE wave needs a
    // tail restart: a running file stream's schema is fixed.
    val baseSchema = spark.read.format(format).load(gen).schema
    val extras = AtomicPublish.listDeltas(spark, path)
      .flatMap { case (_, p) => spark.read.format(format).load(p).schema.fields }
      .filterNot(f => f.name == MorCdc.DeletedCol ||
        baseSchema.fieldNames.contains(f.name))
      .distinctBy(_.name)
    val schema = extras.foldLeft(baseSchema)(_ add _)
      .add(MorCdc.DeletedCol, org.apache.spark.sql.types.BooleanType)
    // the overlay dir may not exist before the first wave — an empty tail
    // is a valid subscription, not an error
    val deltas = new org.apache.hadoop.fs.Path(s"$gen/_deltas")
    deltas.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(deltas)
    val reader = spark.readStream.schema(schema).format(format)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val feed =
      if (!followCompactions) reader.load(s"$gen/_deltas/delta-*")
      else
        // cross-generation glob; drop overlays of generations retired
        // BEFORE this subscription started (already folded into the start
        // base). The predicate is evaluated in-plan per file, no state.
        reader.load(s"$path/gen-*/_deltas/delta-*").where(
          regexp_extract(input_file_name(), "/gen-(\\d+)/_deltas/", 1)
            .cast("long") >= startGen)
    // overlay-id stamp: (generation << 32) | delta-id — commit order as ONE
    // long, monotone across compaction folds (delta ids continue above any
    // already committed, and a new generation's base absorbs all prior
    // overlays). Derived in-plan from the file path, no extra state.
    val stamped = waveIdCol match {
      case None => feed
      case Some(wc) =>
        import org.apache.spark.sql.functions.coalesce
        import org.apache.spark.sql.functions.lit
        val g = regexp_extract(input_file_name(), "/gen-(\\d+)/_deltas/", 1)
          .cast("long")
        val d = regexp_extract(input_file_name(), "/delta-(\\d+)/", 1)
          .cast("long")
        feed.withColumn(wc,
          org.apache.spark.sql.functions.shiftleft(coalesce(g, lit(0L)), 32) +
            coalesce(d, lit(0L)))
    }
    Map("result" -> stamped)
  }
}

object IndexMaintenance {
  /** Drive `idx.updateIndex` (and, with `deleteCol`, `idx.deleteFromIndex`)
    * from a streaming delta, one micro-batch at a time. Returns the started
    * query; with the default AvailableNow trigger and `await = true` (the
    * bounded-refresh shape) the call blocks until the backlog is drained
    * and the index is fully refreshed.
    *
    * CDC mode (`deleteCol = Some(c)`): each micro-batch splits on the
    * boolean column `c` — upsert rows first (`deleteFromIndex` on their ids
    * to drop any superseded version, then `updateIndex`), tombstone rows
    * last (`deleteFromIndex`), so within one batch a delete for a key also
    * upserted in that batch wins — the MergeNode/CdcApply convention. With
    * `deleteCol = None` every row is a plain append (`updateIndex` only —
    * no per-batch delete pass, the pre-CDC behavior).
    *
    * A CDC micro-batch is persisted once and sized by ONE driver action
    * (upsert and tombstone row counts); only the legs with rows run. Each
    * leg is a full index wave (a chained join → join → GROUP BY wave is
    * ~30 Spark jobs) whatever its input size, so running all three legs
    * on every batch made pure batches pay for their empty legs: in a
    * traced chained-view run the trailing delete over an empty tombstone
    * set took ~27% of a fact-upsert wave's stream time, and the two empty
    * upsert legs ~46% of a fact-delete wave's.
    *
    * Measured negative result (keep the legs separate): round 19 fused
    * the three legs into one combined tombstone-then-insert wave per
    * family (one driver action per micro-batch instead of three) and the
    * contract-config bench measured it 1.9-13.5x SLOWER (q209
    * 14.98 → 201.97 s) — the combined wave forces BOTH the delete-step
    * Δview derivation and the insert-step join on every micro-batch, and
    * its anti-join re-evaluates each uncached wave leg 2-3x. Reverted in
    * r20 (A/B in OPTIMIZATION_r20.md); do not fuse the legs without a
    * committed 32-core win on q198/q204/q205/q209/q211.
    *
    * Pass a `checkpoint` for any maintenance that may re-drain the same
    * source (restarts, periodic AvailableNow re-runs over a growing
    * directory): the checkpoint makes batch ids a stable property of the
    * SOURCE OFFSETS. Without one, a re-invocation renumbers all files from
    * batch 0 and the replay guard then skips the first `lastAppliedBatch+1`
    * batches by POSITION — correct only while file ordering (mod time) is
    * stable. Because that positional skip is easy to misuse, a
    * checkpoint-less call on an index that has ALREADY folded in streamed
    * batches (`lastAppliedBatch >= 0`) is REFUSED unless the caller
    * explicitly acknowledges positional skipping via
    * `positionalReplaySkipOk = true`.
    */
  def maintainFromStream(
      idx: IncrementalIndex,
      ctx: Ctx,
      delta: DataFrame,
      checkpoint: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      await: Boolean = true,
      deleteCol: Option[String] = None,
      positionalReplaySkipOk: Boolean = false,
      // MULTI-OVERLAY batching (the "one overlay = one micro-batch"
      // amortization): when a micro-batch may contain SEVERAL change
      // waves (e.g. a MorTailNode without maxFilesPerTrigger = 1),
      // `netResolveKeys` + `waveCol` (the tail's `waveIdCol`) resolve
      // each key to its LATEST version by wave order before applying —
      // exactly the merge-on-read latest-wins rule, so the batch's net
      // effect equals sequential per-overlay application (keys are
      // unique WITHIN a wave by the feed contract, so max-wave-per-key
      // is unambiguous). N producer waves then cost the consumer ONE
      // maintenance pass instead of N. Requires `deleteCol` (append-only
      // streams have no superseded versions to resolve). A `waveCol`
      // given WITHOUT netResolveKeys is simply dropped before applying.
      netResolveKeys: Seq[String] = Nil,
      waveCol: Option[String] = None): StreamingQuery = {
    if (!delta.isStreaming)
      throw new GraftException(
        "maintainFromStream needs a streaming delta — for a batch delta call updateIndex directly")
    if (netResolveKeys.nonEmpty && (waveCol.isEmpty || deleteCol.isEmpty))
      throw new GraftException(
        "maintainFromStream: netResolveKeys needs BOTH waveCol (the " +
          "within-batch wave order — MorTailNode's waveIdCol) and deleteCol " +
          "(net-resolution only makes sense for CDC feeds, where a later " +
          "wave supersedes a key's earlier versions)")
    if (checkpoint.isEmpty && idx.lastAppliedBatch >= 0 && !positionalReplaySkipOk)
      throw new GraftException(
        s"maintainFromStream: index already applied streamed batches up to " +
          s"id ${idx.lastAppliedBatch} but no checkpoint was given — a fresh " +
          "source renumbers batches from 0 and the replay guard would skip " +
          "them by POSITION, which is only correct while file ordering is " +
          "stable. Pass the original checkpointLocation (exactly-once), or " +
          "acknowledge positional skipping with positionalReplaySkipOk = true")
    val writer = delta.writeStream
      .queryName(s"maintain_${System.nanoTime()}")
      .outputMode("append")
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        if (batchId > idx.lastAppliedBatch) {
          import org.apache.spark.sql.functions.{assert_true, col, coalesce,
            concat_ws, count_if, lag, lit, row_number}
          // net-resolve a multi-overlay batch to each key's latest version
          // (wave order), then drop the wave stamp either way
          val batch = (netResolveKeys, waveCol) match {
            case (ks, Some(wc)) if ks.nonEmpty =>
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(ks.map(col): _*).orderBy(col(wc).desc)
              // within-wave duplicate detector (ADVICE r18/r19):
              // net-resolution is only unambiguous while keys are unique
              // WITHIN a wave (the feed contract) — a producer violation
              // would otherwise pick a nondeterministic survivor SILENTLY.
              // Same window spec as the resolution itself (no extra
              // exchange): in wc-desc order, two rows of one (key, wave)
              // are adjacent, so lag(wc) <=> wc flags a duplicate in ANY
              // wave, not just the key's latest (ADVICE r19 #1 closed).
              // A null stamp has no wave order, so it fails too; the
              // compare is null-safe because `===` yields null there,
              // which the assert would read as "no duplicate".
              batch0.withColumn("__mor_rn", row_number().over(w))
                .withColumn("__mor_dup", lag(col(wc), 1).over(w) <=> col(wc))
                .filter(assert_true(
                  col(wc).isNotNull && !col("__mor_dup"),
                  concat_ws("", lit("maintainFromStream: null wave stamp or " +
                    "duplicate key within one wave violates the " +
                    "net-resolution contract (keys must be unique per " +
                    "overlay) — offending key: "),
                    concat_ws(",", ks.map(k => col(k).cast("string")): _*),
                    lit(" wave: "), col(wc).cast("string"))).isNull)
                .filter(col("__mor_rn") === 1).drop("__mor_rn", "__mor_dup", wc)
            case (_, Some(wc)) => batch0.drop(wc)
            case _ => batch0
          }
          deleteCol match {
            case None => idx.updateIndex(ctx, batch)
            case Some(c) =>
              val flag = coalesce(col(c).cast("boolean"), lit(false))
              // persisted once: the count below and every leg read the
              // same rows, and net-resolution (with its duplicate assert)
              // is evaluated once, not once per leg
              batch.persist()
              try {
                val n = batch.agg(count_if(!flag), count_if(flag)).head()
                // upsert = replace (drop any superseded version, then
                // append), tombstones last; an empty leg is skipped
                if (n.getLong(0) > 0) {
                  val upserts = batch.filter(!flag).drop(c)
                  idx.deleteFromIndex(ctx, upserts)
                  idx.updateIndex(ctx, upserts)
                }
                if (n.getLong(1) > 0)
                  idx.deleteFromIndex(ctx, batch.filter(flag).drop(c))
              } finally batch.unpersist(blocking = true)
          }
          idx.lastAppliedBatch = batchId
        }
      }
      .trigger(trigger)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    val q = writer.start()
    if (await) q.awaitTermination()
    q
  }
}
