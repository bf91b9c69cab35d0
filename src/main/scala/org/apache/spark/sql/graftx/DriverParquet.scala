package org.apache.spark.sql.graftx

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Spark's own parquet writer run in the driver, over rows the driver
  * already holds: the `OutputWriterFactory` that
  * `ParquetFileFormat.prepareWrite` gives a `df.write.parquet` job, with
  * the same options, Hadoop conf and schema, so each file holds the bytes
  * that job's task would write. No job, task or output committer runs:
  * a file is written where the caller names it, and the caller publishes
  * it. The schema checks are the job path's, so a schema the job rejects
  * fails here with the same error.
  */
object DriverParquet {
  private val format = new ParquetFileFormat()

  /** `rel`'s rows cut as its `LocalTableScanExec` cuts them into tasks:
    * `min(rows, leafNodeDefaultParallelism)` slices at
    * `ParallelCollectionRDD`'s bounds, each row through the scan's
    * `UnsafeProjection`. Empty for an empty relation (the job path writes
    * a schema-only file there). */
  def slices(spark: SparkSession, rel: LocalRelation): Seq[Iterator[InternalRow]] = {
    val n = rel.data.length
    val k = math.min(n,
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].leafNodeDefaultParallelism)
    (0 until k).map { i =>
      val proj = UnsafeProjection.create(rel.output, rel.output)
      rel.data.slice((i.toLong * n / k).toInt, ((i + 1).toLong * n / k).toInt)
        .iterator.map(proj)
    }
  }

  /** Write `slices` as the files a `df.write.parquet` job with one task
    * per slice writes, in task order: each slice one file, or with
    * `spark.sql.files.maxRecordsPerFile` at N > 0, files of N rows, the
    * last holding the rest (as `FileFormatWriter` rolls a task's output).
    * `file(i)` names the i-th file; returns how many were written. On a
    * failure the files this call created are deleted. */
  def write(spark: SparkSession, schema: StructType, slices: Seq[Iterator[InternalRow]],
      file: Int => HPath): Int = if (slices.isEmpty) 0 else {
    DataSource.validateSchema(format.toString, schema, spark.sessionState.conf)
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, file(0).getParent)
    val factory = format.prepareWrite(spark, job, Map.empty, schema)
    val perFile = spark.sessionState.conf.maxRecordsPerFile
    val jobId = new JobID("graft-driver", 0)
    val made = scala.collection.mutable.ArrayBuffer.empty[HPath]
    def open() = {
      val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, made.size), 0)
      made += file(made.size)
      factory.newInstance(made.last.toString, schema,
        new TaskAttemptContextImpl(job.getConfiguration, attempt))
    }
    try slices.foreach { rows =>
      var w = open()
      try {
        var inFile = 0L
        rows.foreach { r =>
          if (perFile > 0 && inFile >= perFile) {
            val full = w; w = null; full.close()
            w = open(); inFile = 0
          }
          w.write(r)
          inFile += 1
        }
      } finally if (w != null) w.close()
    } catch { case e: Throwable =>
      made.foreach { f =>
        try f.getFileSystem(job.getConfiguration).delete(f, false)
        catch { case scala.util.control.NonFatal(s) => e.addSuppressed(s) }
      }
      throw e
    }
    made.size
  }
}
