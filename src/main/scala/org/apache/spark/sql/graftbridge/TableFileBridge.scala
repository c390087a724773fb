package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTablePartition,
  ExternalCatalogUtils}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.command.CommandUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Bridge to the session catalog and Spark's parquet writer, for sinks
  * that write a few rows on the driver instead of running a write job.
  * Lives under `org.apache.spark.sql` for the classic session's state,
  * like [[ColumnBridge]].
  */
object TableFileBridge {

  private def state(spark: SparkSession) =
    spark.asInstanceOf[ClassicSession].sessionState

  /** The session catalog's entry for `database.table`, if it exists. */
  def table(spark: SparkSession, database: String,
      table: String): Option[CatalogTable] = {
    val ident = TableIdentifier(table, Some(database))
    val catalog = state(spark).catalog
    if (catalog.tableExists(ident)) Some(catalog.getTableMetadata(ident)) else None
  }

  /** The directory of `spec`'s partition: its registered location, else
    * the default one under the table's location. */
  def partitionDir(spark: SparkSession, t: CatalogTable,
      spec: Map[String, String]): Path =
    (if (t.tracksPartitionsInCatalog)
      state(spark).catalog.listPartitions(t.identifier, Some(spec)).headOption
        .flatMap(_.storage.locationUri).map(new Path(_))
    else None)
      .getOrElse(ExternalCatalogUtils.generatePartitionPath(
        spec, t.partitionColumnNames, new Path(t.location)))

  /** Registers `spec`'s partition at `dir` unless the catalog already
    * holds it (a table whose partitions live only in its directory
    * layout needs none). */
  def registerPartition(spark: SparkSession, t: CatalogTable,
      spec: Map[String, String], dir: Path): Unit = if (t.tracksPartitionsInCatalog) {
    val catalog = state(spark).catalog
    if (catalog.listPartitions(t.identifier, Some(spec)).isEmpty)
      catalog.createPartitions(t.identifier, Seq(CatalogTablePartition(
        spec, t.storage.copy(locationUri = Some(dir.toUri)))), ignoreIfExists = true)
  }

  /** Writes `rows`, in `t`'s data column order, as one parquet file
    * `dir/<name><extension>` with the writer Spark's own file writer
    * takes for `t`: the same format options and session conf. Returns
    * the file's path; a write that fails deletes what it wrote. */
  def writeParquet(spark: SparkSession, t: CatalogTable, dir: Path, name: String,
      rows: Iterator[InternalRow]): Path = {
    val session = spark.asInstanceOf[ClassicSession]
    val options = t.storage.properties
    val dataSchema = t.dataSchema
    val job = Job.getInstance(session.sessionState.newHadoopConfWithOptions(options))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = new ParquetFileFormat().prepareWrite(session, job, options, dataSchema)
    val context = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val file = new Path(dir, name + factory.getFileExtension(context))
    try {
      val writer = factory.newInstance(file.toString, dataSchema, context)
      try rows.foreach(writer.write) finally writer.close()
    } catch { case e: Throwable =>
      scala.util.Try(file.getFileSystem(job.getConfiguration).delete(file, false))
      throw e
    }
    file
  }

  /** After files were published into `t`: drops its stale statistics,
    * as an append does, and the session's cached relation and file
    * listing, so the next read lists the new files. */
  def refresh(spark: SparkSession, t: CatalogTable): Unit = {
    CommandUtils.updateTableStats(spark.asInstanceOf[ClassicSession], t)
    spark.catalog.refreshTable(t.identifier.quotedString)
  }
}
