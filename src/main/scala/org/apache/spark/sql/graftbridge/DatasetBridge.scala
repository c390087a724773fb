package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.RDDBlockId

/** Bridge to the `private[sql]` machinery behind an eager checkpoint:
  * the named SQL execution, the checkpointed RDD and the `LogicalRDD`
  * that reads it back. Lives under `org.apache.spark.sql` for the
  * access modifiers, like [[ColumnBridge]].
  */
object DatasetBridge {

  /** Run `df`'s executed plan once under a named SQL execution (as
    * `Dataset.checkpoint` does), checkpoint its rows — reliably into
    * the context's checkpoint dir, or as local blocks — and return a
    * frame over them plus the backing RDD.
    *
    * Unlike `Dataset.checkpoint`, the `LogicalRDD` describes what the
    * run delivered: the partitioning and ordering of the FINAL
    * (post-AQE) plan, and the measured bytes as `sizeInBytes`. A hash
    * partitioning is declared only when its partition count is the
    * RDD's (AQE may have coalesced the shuffle below it), and only
    * partitioning and ordering over the frame's own columns. */
  def materialize(df: DataFrame,
      reliable: Boolean): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val qe = ds.queryExecution
    val name = if (reliable) "checkpoint" else "localCheckpoint"
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map(_.copy())
      if (reliable) rdd.checkpoint() else rdd.localCheckpoint()
      rdd.doCheckpoint()
      val delivered = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val output = ds.logicalPlan.output
      val own = AttributeSet(output)
      def firstLeaf(p: Partitioning): Partitioning = p match {
        case c: PartitioningCollection => firstLeaf(c.partitionings.head)
        case other => other
      }
      val partitioning = firstLeaf(delivered.outputPartitioning) match {
        case h: HashPartitioning if h.numPartitions == rdd.getNumPartitions &&
            h.references.subsetOf(own) => h
        case _ => UnknownPartitioning(rdd.getNumPartitions)
      }
      val ordering =
        delivered.outputOrdering.takeWhile(_.references.subsetOf(own))
      val sc = ds.sparkSession.sparkContext
      val bytes =
        if (reliable) rdd.getCheckpointFile.map { f =>
          val p = new Path(f)
          p.getFileSystem(sc.hadoopConfiguration).getContentSummary(p).getLength
        }.getOrElse(0L)
        // from the block manager master, which every task reported its
        // block to before finishing (the status store lags behind it)
        else sc.env.blockManager.master.getStorageStatus.iterator
          .flatMap(_.rddBlocks).collect {
            case (RDDBlockId(id, _), s) if id == rdd.id => s.memSize + s.diskSize
          }.sum
      val (_, constraints) =
        LogicalRDD.rewriteStatsAndConstraints(ds.logicalPlan, qe.optimizedPlan)
      val plan = LogicalRDD(output, rdd, partitioning, ordering,
        ds.isStreaming, None)(
        ds.sparkSession, Some(Statistics(sizeInBytes = bytes)), constraints)
      (Dataset.ofRows(ds.sparkSession, plan), rdd)
    }
  }
}
