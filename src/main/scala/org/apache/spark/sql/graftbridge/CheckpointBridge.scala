package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution}

/** An eager `localCheckpoint` whose leaf reports the size it materialized.
  *
  * `Dataset.localCheckpoint()` builds its `LogicalRDD` with the ORIGIN
  * plan's size estimate, which over joins and explodes is astronomically
  * high (1e24+ bytes for a 1 MB frame), so every join over a leaf is planned
  * sort-merge and shuffled before AQE can demote it. This runs Spark's own
  * eager local-checkpoint steps (Spark 4.1 `classic.Dataset.checkpoint`:
  * new execution id, `execute()` plus the row copy, `localCheckpoint` +
  * `doCheckpoint`, `LogicalRDD.fromDataset`), and the checkpoint job's own
  * tasks count the rows and their `UnsafeRow` bytes. The leaf then carries
  * `Statistics(sizeInBytes, rowCount)`, so Catalyst broadcasts a leaf side
  * under `spark.sql.autoBroadcastJoinThreshold` at plan time. No extra job:
  * the counts ride on two accumulators, added once per task by a completion
  * listener; Spark drops the updates of failed task attempts.
  *
  * Spark 4 keeps these steps `private[sql]` / `private[spark]`, hence the
  * package (the same pattern as [[ColumnBridge]]). */
object CheckpointBridge {

  def localCheckpoint(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val session = ds.sparkSession
    val sc = session.sparkContext
    val rows = sc.longAccumulator
    val bytes = sc.longAccumulator
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      QueryExecution.withInternalError("localCheckpoint internal error") {
        val plan = qe.executedPlan
        plan.resetMetrics()
        val schema = plan.schema
        val rdd = plan.execute().mapPartitions { it =>
          var n = 0L
          var b = 0L
          lazy val toUnsafe = UnsafeProjection.create(schema)
          TaskContext.get().addTaskCompletionListener[Unit] { _ =>
            rows.add(n)
            bytes.add(b)
          }
          it.map { r =>
            val c = r.copy()
            n += 1
            b += (c match {
              case u: UnsafeRow => u.getSizeInBytes
              case other => toUnsafe(other).getSizeInBytes
            })
            c
          }
        }
        rdd.localCheckpoint()
        rdd.doCheckpoint()
        val origin = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
        val sized = origin.copy()(session,
          Some(Statistics(sizeInBytes = BigInt(bytes.value), rowCount = Some(BigInt(rows.value)))),
          Some(origin.constraints))
        Dataset.ofRows(session, sized)
      }
    }
  }
}
