package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Eager materialisation shared by the engine's fixpoint loops. */
object Eager {

  /** Materialises `df` with ONE eager `localCheckpoint` job and, in
    * that same job, counts the rows where `flag` is true (null counts
    * as false). Returns the checkpointed frame with exactly `df`'s
    * columns, and the count.
    *
    * This is the drain/convergence check of the engine's counted
    * fixpoint loops (the stitch supersteps, path doubling, min-label
    * CC, the graph walk, MMR, radix `headK`): the count costs no job
    * of its own. It rides a one-boolean kernel that bumps an accumulator
    * while the checkpoint materialises the round, and the helper
    * column holding that kernel is dropped only AFTER the checkpoint,
    * so the optimizer can never prune it away and read 0. Reading the
    * returned frame again scans the checkpointed blocks and does not
    * count again. Task retries can only over-count, so loops use the
    * value as a "> 0" test.
    */
  def checkpointCounting(df: DataFrame, flag: Column): (DataFrame, Long) = {
    val acc = df.sparkSession.sparkContext.longAccumulator
    val bump = udf { f: Boolean => if (f) acc.add(1L); true }
    val cp = df.withColumn("_eager_count", bump(coalesce(flag, lit(false))))
      .localCheckpoint()
    (cp.drop("_eager_count"), acc.value)
  }
}
