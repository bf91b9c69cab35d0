package org.apache.spark.sql.graftx

import graft.sources.VersionedTable
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

/** Structured Streaming SOURCE over a [[graft.sources.VersionedTable]] —
  * the read half of the table's streaming story (the exactly-once SINK
  * is `commitStreamBatch`):
  *
  * {{{
  * spark.readStream
  *   .format("org.apache.spark.sql.graftx.VersionedTableStreamProvider")
  *   .option("path", table).load()
  * }}}
  *
  * Offsets ARE manifest versions: the engine checkpoints a version
  * number, and a micro-batch is exactly the files the manifests between
  * two versions added. Data files are immutable and the manifest file
  * lists are deterministic, so a replayed batch re-reads byte-identical
  * data — the engine's offset log + this determinism give end-to-end
  * exactly-once with a transactional sink. The first batch is the full
  * snapshot at the stream's start version (the Delta semantic).
  *
  * APPEND-ONLY contract, enforced per consumed version: `create*`,
  * `append*`, and `stream:*:append` versions contribute the files they
  * added; LAYOUT-ONLY versions (`compact`, `optimize*` — bit-identical
  * content, rewritten files) advance the offset and emit NOTHING
  * (Delta's dataChange=false semantic — emitting their files would
  * double-read the table). An overwrite / CDC commit between offsets
  * is an ERROR — row-level change consumption is `changesSince` /
  * `changeFeed`, not this source. Same rules Delta's streaming source
  * applies.
  *
  * This sits in the graftx bridge package because the V1 Source trait
  * and `internalCreateDataFrame` (the FileStreamSource mechanism for
  * marking a batch-read DataFrame isStreaming=true) are private[sql];
  * the logic is graft code. */
class VersionedTableStreamProvider extends StreamSourceProvider {

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "VersionedTableStreamProvider: option 'path' is required"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = pathOf(parameters)
    val inferred = schema.getOrElse(
      VersionedTable.read(sqlContext.sparkSession, path).schema)
    // `columns`: source-level projection. The V1 Source materializes its
    // batch through an RDD boundary (internalCreateDataFrame), so the
    // engine's column pruning CANNOT reach the parquet scan from above —
    // a downstream select still pays the full-width read. Declaring the
    // needed columns here narrows the scan itself (measured 12× on a
    // text-heavy table, PLANS.md), which is the entire column-pruning
    // benefit a DSv2 ScanBuilder port would buy this source.
    val pruned = parameters.get("columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty))
      .map { cs =>
        StructType(cs.map { c =>
          require(inferred.fieldNames.contains(c),
            s"VersionedTableStreamProvider: column '$c' not in table schema " +
              s"${inferred.fieldNames.mkString("[", ",", "]")}")
          inferred(inferred.fieldIndex(c))
        })
      }
      .getOrElse(inferred)
    ("graft-table", pruned)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new VersionedTableSource(sqlContext, pathOf(parameters),
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      parameters.get("maxVersionsPerBatch").map(_.toLong))
}

private[graftx] class VersionedTableSource(sqlContext: SQLContext,
    path: String, override val schema: StructType,
    maxVersionsPerBatch: Option[Long] = None) extends Source {

  maxVersionsPerBatch.foreach(m => require(m >= 1,
    s"VersionedTableSource: maxVersionsPerBatch must be >= 1, got $m"))

  // admission control (Delta's maxFilesPerTrigger analog at version
  // granularity): getOffset caps how far past the last batch we admit,
  // so a stream catching up on a long history processes bounded
  // micro-batches instead of one giant one. The engine persists only
  // COMMITTED offsets; this var merely paces within the process.
  private var lastEnd: Option[Long] = None

  private val spark =
    sqlContext.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private def versionOf(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other => other.json.trim.toLong // SerializedOffset after restart
  }

  override def getOffset: Option[Offset] =
    VersionedTable.latestVersion(path).map { latest =>
      // cap only once a batch boundary is known — after a restart the
      // first getBatch teaches us the committed offset, so the throttle
      // can never hand the engine an offset BELOW what it committed
      // (the initial snapshot is one batch regardless, so capping the
      // very first offset would not bound work anyway)
      val capped = (maxVersionsPerBatch, lastEnd) match {
        case (Some(m), Some(e)) => math.min(latest, e + m)
        case _ => latest
      }
      lastEnd = Some(math.max(capped, lastEnd.getOrElse(Long.MinValue)))
      LongOffset(capped)
    }

  private def isLayoutOnly(a: String): Boolean =
    a.startsWith("compact") || a.startsWith("optimize")

  private def isAppendLike(a: String): Boolean =
    a.startsWith("create") || a.startsWith("append") ||
      (a.startsWith("stream:") && a.endsWith(":append"))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = versionOf(end)
    val from = start.map(versionOf)
    lastEnd = Some(math.max(to, lastEnd.getOrElse(Long.MinValue)))
    val sel = schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq
    val batch = from match {
      // initial snapshot: the DV-aware full read — a table whose history
      // includes merge-on-read deletes must snapshot its LIVE rows, not
      // its physical files. (Post-snapshot delete-dv/upsert-dv commits
      // are not append-like and poison the stream loudly below — the
      // Delta append-only-source contract.)
      case None => VersionedTable.readVersion(spark, path, to).select(sel: _*)
      case Some(f) =>
        // per-version walk: append-like versions contribute their added
        // files; LAYOUT-ONLY versions (compact / optimize / z-order) are
        // content-identical rewrites — they advance the offset and emit
        // NOTHING (Delta's dataChange=false semantic; emitting their
        // rewritten files would double-read the whole table). Anything
        // else changes rows and poisons the stream.
        val newFiles = ((f + 1) to to).flatMap { v =>
          val a = VersionedTable.actionAt(path, v)
          if (isLayoutOnly(a)) Seq.empty
          else {
            require(isAppendLike(a),
              s"VersionedTableSource: version $v is '$a' — the streaming " +
                "source is append-only (layout-only commits are skipped); " +
                "consume rewrites via changesSince/changeFeed")
            val prev = VersionedTable.filesAt(path, v - 1).toSet
            VersionedTable.filesAt(path, v).filterNot(prev)
          }
        }
        if (newFiles.isEmpty)
          VersionedTable.readVersion(spark, path, to)
            .where(org.apache.spark.sql.functions.lit(false))
            .select(sel: _*)
        else
          VersionedTable.scanFiles(spark, path, newFiles.sorted).select(sel: _*)
    }
    // FileStreamSource's mechanism: re-tag the batch plan as streaming so
    // MicroBatchExecution accepts it in place of the streaming relation
    spark.internalCreateDataFrame(
      batch.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
