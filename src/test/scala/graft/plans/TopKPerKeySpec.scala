package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.Dedup

class TopKPerKeySpec extends SparkTestBase {

  test("row set equals the window formulation on the events fixture") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val order = Seq(col("ts").desc, col("event_id").desc)
    val viaWindow = ev
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(order: _*)))
      .filter(col("__rn") <= 3).drop("__rn")
    val viaCustom = Dedup.topKPerKey(ev,
      Seq("user_id", "event_type"), order, 3)
    assert(viaCustom.collect().map(_.toString).sorted.toSeq ===
      viaWindow.collect().map(_.toString).sorted.toSeq)
  }

  test("k=1 matches keepFirst exactly") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val order = Seq(col("ts").desc, col("event_id").desc)
    val a = Dedup.keepFirst(ev, Seq("user_id"), order)
      .collect().map(_.toString).sorted.toSeq
    val b = Dedup.topKPerKey(ev, Seq("user_id"), order, 1)
      .collect().map(_.toString).sorted.toSeq
    assert(a === b)
  }

  test("plans partial and final stages around one exchange, no WindowExec") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val df = Dedup.topKPerKey(ev, Seq("user_id"),
      Seq(col("ts").desc, col("event_id").desc), 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyExec") || plan.contains("TopKPerKey"),
      plan)
    assert(!plan.contains("Window"), plan)
    // partial stage reduces BEFORE the shuffle: exactly one exchange,
    // sandwiched between the two operator instances
    assert("Exchange".r.findAllIn(plan).size >= 1, plan)
    val idxFinal = plan.indexOf("TopKPerKey")
    val idxEx = plan.indexOf("Exchange")
    val idxPartial = plan.indexOf("TopKPerKey", idxEx)
    assert(idxFinal < idxEx && idxEx < idxPartial,
      s"expected final -> exchange -> partial ordering:\n$plan")
  }

  test("partial stage flushes under a tiny key budget without changing results") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val order = Seq(col("ts").desc, col("event_id").desc)
    def run() = Dedup.topKPerKey(ev, Seq("user_id", "event_type"), order, 3)
      .collect().map(_.toString).sorted.toSeq
    val unconstrained = run()
    // a 2-key budget on a fixture with hundreds of (user, type) keys per
    // partition forces many flush cycles in every partition — the spill
    // path IS the executed path here, not a corner case
    spark.conf.set(TopKPerKeyExec.PartialMaxKeysKey, "2")
    val constrained =
      try run()
      finally spark.conf.unset(TopKPerKeyExec.PartialMaxKeysKey)
    assert(constrained === unconstrained)
  }

  test("null keys form their own group") {
    import spark.implicits._
    val df = Seq((Some(1), 10), (Some(1), 20), (None, 5), (None, 7))
      .toDF("k", "v").repartition(3)
    val out = Dedup.topKPerKey(df, Seq("k"), Seq(col("v").desc), 1)
      .collect().map(r => (if (r.isNullAt(0)) -99 else r.getInt(0), r.getInt(1)))
      .toSet
    assert(out === Set((1, 20), (-99, 7)))
  }

  test("handles keys absent from some partitions and k larger than group") {
    import spark.implicits._
    val df = Seq((1, 10), (1, 20), (2, 5)).toDF("k", "v").repartition(4)
    val out = Dedup.topKPerKey(df, Seq("k"), Seq(col("v").desc), 5)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(out === Set((1, 10), (1, 20), (2, 5)))
  }

  test("a rank window on the top-k key reuses the final stage's " +
      "partitioning: one key exchange") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val order = Seq(col("ts").desc, col("event_id").desc)
    val ranked = Dedup.topKPerKey(ev, Seq("user_id"), order, 3)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(order: _*)))
    val plan = ranked.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size === 1,
      plan)
    // and the ranks are the window formulation's
    val viaWindow = ev.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(order: _*)))
      .filter(col("rank") <= 3)
    assert(ranked.collect().map(_.toString).sorted.toSeq ===
      viaWindow.collect().map(_.toString).sorted.toSeq)
  }
}
