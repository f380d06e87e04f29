package graft

import org.apache.spark.sql.streaming.Trigger

/** Generated code compiles once per JVM: GraftSession sizes Spark's
  * codegen cache above graft's working set and turns off per-query
  * artifact isolation, so neither a long session nor a new streaming
  * query compiles a class it has compiled before.
  */
class CodegenSpec extends SparkSpec {

  import spark.implicits._

  test("codegen cache: a plan collected again after 150 distinct plans compiles nothing") {
    def plan(i: Int) = spark.range(10).selectExpr(s"id * $i + 1 AS v")
    val (first, firstCompiles) = classesCompiledBy(plan(0).as[Long].collect())
    assert(first.toSeq === (0 until 10).map(_ => 1L))
    // each literal is inlined into its own generated class
    val (_, between) = classesCompiledBy(
      (1 to 150).foreach(i => plan(i).collect()))
    assert(between >= 150, s"150 distinct plans compiled only $between classes")
    val (again, againCompiles) = classesCompiledBy(plan(0).as[Long].collect())
    assert(again === first)
    assert(againCompiles === 0,
      s"collecting the first plan again recompiled $againCompiles classes " +
        s"(it compiled $firstCompiles the first time)")
  }

  test("codegen cache: a second AvailableNow run of a stateless stream compiles nothing") {
    val root = tempDir("graft-codegen")
    val in = s"$root/in"
    Seq((1L, "a b"), (2L, "c"), (3L, "d e f")).toDF("id", "s").coalesce(1)
      .write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def drain(run: Int): Seq[(Long, String)] = {
      val q = spark.readStream.schema(schema).parquet(in)
        .selectExpr("id * 7 + 3 AS k", "upper(s) AS u")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$root/ck$run")
        .trigger(Trigger.AvailableNow())
        .start(s"$root/out$run")
      try assert(q.awaitTermination(120000), "the drain did not finish")
      finally q.stop()
      spark.read.parquet(s"$root/out$run").as[(Long, String)].collect()
        .toSeq.sorted
    }
    val (first, firstCompiles) = classesCompiledBy(drain(1))
    assert(first === Seq((10L, "A B"), (17L, "C"), (24L, "D E F")))
    val (second, secondCompiles) = classesCompiledBy(drain(2))
    assert(second === first)
    assert(secondCompiles === 0,
      s"the second drain recompiled $secondCompiles classes " +
        s"(the first compiled $firstCompiles)")
  }
}
