package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Eager.checkpointCounting]]: the one drain check every fixpoint
  * loop uses. Its count must be exact, its output must keep exactly
  * the input's columns, and the returned frame must be materialized
  * (reading it again neither recomputes the input nor counts again).
  */
class EagerSpec extends SparkSpec {
  import spark.implicits._

  private def frame(n: Int) =
    (0 until n).map(i => (i.toLong, i % 3 == 0, s"r$i")).toDF("id", "f", "s")
      .repartition(3)

  test("count equals the rows where the flag is true: mixed, all-false, empty") {
    val mixed = frame(50)
    val (_, nMixed) = Eager.checkpointCounting(mixed, col("f"))
    assert(nMixed === (0 until 50).count(_ % 3 == 0))
    val (_, nExpr) = Eager.checkpointCounting(mixed, col("id") >= 40)
    assert(nExpr === 10)
    val (_, nFalse) = Eager.checkpointCounting(mixed, lit(false))
    assert(nFalse === 0)
    val (out, nEmpty) = Eager.checkpointCounting(frame(0), lit(true))
    assert(nEmpty === 0 && out.count() === 0)
    // a null flag counts as false
    val (_, nNull) = Eager.checkpointCounting(mixed,
      when(col("id") < 5, lit(null).cast("boolean")).otherwise(col("f")))
    assert(nNull === (5 until 50).count(_ % 3 == 0))
  }

  test("output columns and rows equal the input's; the flag may be a caller column") {
    val in = frame(20)
    val (out, _) = Eager.checkpointCounting(in, col("f"))
    assert(out.columns.toSeq === in.columns.toSeq)
    assert(out.schema === in.schema)
    assert(out.as[(Long, Boolean, String)].collect().sorted.toSeq ===
      in.as[(Long, Boolean, String)].collect().sorted.toSeq)
  }

  test("the returned frame is materialized: re-reads do not recompute or count again") {
    val sc = spark.sparkContext
    val evaluated = sc.longAccumulator("eager_spec_evaluated")
    val seen = udf { id: Long => evaluated.add(1L); id % 2 == 0 }
    val (out, n) = Eager.checkpointCounting(frame(30), seen(col("id")))
    assert(n === 15)
    assert(evaluated.value === 30)
    out.collect(); out.count(); out.where(col("f")).collect()
    assert(evaluated.value === 30,
      "reading the checkpointed frame re-ran the input plan")
  }
}
