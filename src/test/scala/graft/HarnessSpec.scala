package graft

import org.apache.spark.sql.functions.col

/** The measuring core the evidence mains share: the load band, the
  * other-process CPU sample, the plan census, Bench's two result lines,
  * ScaleProbe's filtered-run splice, and a guard that keeps each piece
  * in one place. */
class HarnessSpec extends SparkSpec {

  test("the load band's cut-points at 2, 4, 8 and 32 cpus") {
    val table = Seq(
      // cpus, load, band: clean ≤ min(2, cpus/4) < loaded ≤ max(cpus/4, 2×clean)
      (2, 0.0, "clean"), (2, 0.5, "clean"), (2, 0.6, "loaded"),
      (2, 1.0, "loaded"), (2, 1.1, "polluted"),
      (4, 1.0, "clean"), (4, 1.7, "loaded"), (4, 2.0, "loaded"),
      (4, 2.1, "polluted"), (4, 3.0, "polluted"),
      (8, 2.0, "clean"), (8, 2.5, "loaded"), (8, 4.0, "loaded"),
      (8, 4.1, "polluted"),
      (32, 2.0, "clean"), (32, 2.1, "loaded"), (32, 8.0, "loaded"),
      (32, 8.1, "polluted"))
    for ((cpus, load, band) <- table)
      assert(Harness.band(load, cpus) === band, s"load $load on $cpus cpus")
  }

  test("other processes' CPU is the machine's busy share less this process's") {
    // 4 cpus, 1 s window = 400 ticks: 200 busy (steal included), of which
    // this process used 0.5 s
    val before = "cpu  1000 0 500 8000 100 0 0 0 0 0\n" +
      (0 until 4).map(i => s"cpu$i 250 0 125 2000 25 0 0 0 0 0").mkString("\n") +
      "\nintr 12345 0 0\nctxt 999\n"
    val after = "cpu  1150 0 520 8190 110 0 0 30 0 0\n" +
      (0 until 4).map(i => s"cpu$i 290 0 130 2050 25 0 0 8 0 0").mkString("\n") +
      "\nintr 12400 0 0\nctxt 1200\n"
    assert(Harness.othersCpus(before, after, ownNs = 500000000L,
      wallNs = 1000000000L) === 1.5)
    // this process alone: nothing is left for the others, never below 0
    assert(Harness.othersCpus(before, after, ownNs = 2500000000L,
      wallNs = 1000000000L) === 0.0)
    assert(Harness.othersCpus(before, before, 0L, 1000000000L) === 0.0)
  }

  test("the census counts exchanges, sort-merge, broadcast and cartesian joins") {
    val a = spark.range(100).toDF("k")
    val b = spark.range(100).toDF("k")
    val c = spark.range(10).toDF("k")
    val df = a.join(b.hint("merge"), "k").join(c.hint("broadcast"), "k")
      .groupBy(col("k")).count()
    assert(Harness.census(df) === Harness.Census(exchange = 2, smj = 1,
      bhj = 1, cartesian = 0))
    val plan = """AdaptiveSparkPlan isFinalPlan=false
      |+- BroadcastNestedLoopJoin BuildRight, Inner
      |   :- Exchange SinglePartition, ENSURE_REQUIREMENTS
      |   :  +- Exchange rangepartitioning(k ASC), ENSURE_REQUIREMENTS
      |   +- BroadcastExchange IdentityBroadcastMode
      |      +- CartesianProduct
      |""".stripMargin
    assert(Harness.census(plan) === Harness.Census(2, 0, 0, 2))
    assert(Harness.Census(2, 1, 1, 0).json ===
      """{"exchange":2,"smj":1,"bhj":1,"cartesian":0}""")
  }

  test("a result line's load keys keep their names and formats") {
    assert(Harness.Load(1.24, "loaded").json ===
      """"preload":1.2,"load_band":"loaded","polluted":true""")
    assert(Harness.Load(0.0, "clean").json ===
      """"preload":0.0,"load_band":"clean","polluted":false""")
  }

  private val record = Bench.Record(Seq(
      Bench.Timing("q01_scan_project", 0.0812, 0.0731, 0.0904, ok = true,
        compiles = 3, compileNs = 12345678L),
      Bench.Timing("q09_join_multikey", 0.0, 0.0, 0.0, ok = false,
        compiles = 0, compileNs = 0L),
      Bench.Timing("q52_tpch_q3", 0.4801, 0.4412, 0.5003, ok = true,
        compiles = 0, compileNs = 0L)),
    errors = Seq("q09_join_multikey: IllegalStateException: line one\nline two"),
    noise = 0.1234, attempts = 3, sfDir = "/data/sf0.01")

  test("Bench's full line: key names, their order and -1 for a failed query") {
    val machine = Bench.Machine(cpus = 4, parallelism = 4,
      codegenCacheMax = "8192", warmupCompiles = 120, warmupNs = 2500000000L)
    assert(Bench.fullLine(record, machine) ===
      """{"metric":"total","value":0.561,"unit":"sec","min_total":0.514,""" +
      """"noise":0.12,"polluted":true,"failed":true,"attempts":3,"sf":0.01,""" +
      """"cpus":4,"default_parallelism":4,"codegen_cache_max_entries":8192,""" +
      """"warmup_codegen_compiles":120,"warmup_codegen_ms":2500.0,""" +
      """"sf_dir":"/data/sf0.01",""" +
      """"queries":{"q01_scan_project":0.081,"q09_join_multikey":-1,"q52_tpch_q3":0.480},""" +
      """"queries_min":{"q01_scan_project":0.073,"q09_join_multikey":-1,"q52_tpch_q3":0.441},""" +
      """"codegen_compiles":{"q01_scan_project":3,"q09_join_multikey":0,"q52_tpch_q3":0},""" +
      """"codegen_ms":{"q01_scan_project":12.3,"q09_join_multikey":0.0,"q52_tpch_q3":0.0},""" +
      """"errors":["q09_join_multikey: IllegalStateException: line one\nline two"]}""")
  }

  test("Bench's compact line: qNN keys, medians, clipped errors") {
    assert(Bench.compactLine(record) ===
      """{"metric":"total","value":0.561,"unit":"sec","min_total":0.514,""" +
      """"noise":0.12,"polluted":true,"failed":true,"attempts":3,"sf":0.01,""" +
      """"queries":{"q01":0.08,"q09":-1,"q52":0.48},"full":"bench_out.json",""" +
      """"errors":["q09_join_multikey: IllegalStateException: line one\nline two"]}""")
    val clean = record.copy(timings = record.timings.filter(_.ok), errors = Nil,
      sfDir = "/data/tiny")
    assert(Bench.compactLine(clean) ===
      """{"metric":"total","value":0.561,"unit":"sec","min_total":0.514,""" +
      """"noise":0.12,"polluted":false,"failed":false,"attempts":3,"sf":"/data/tiny",""" +
      """"queries":{"q01":0.08,"q52":0.48},"full":"bench_out.json","errors":[]}""")
  }

  test("a filtered probe keeps untouched rows byte-identical and replaces re-probed ones") {
    def row(name: String, extra: String, warm: String) =
      s""""$name":{"gates":["$name"]$extra,"small_cold":0.30,"small_warm":$warm,""" +
        """"big_cold":1.10,"big_warm":0.90,"warm_ratio":3.0,""" +
        """"plan_small":{"exchange":1,"smj":0,"bhj":1,"cartesian":0},""" +
        """"plan_big":{"exchange":1,"smj":0,"bhj":1,"cartesian":0},"plan_changed":false}"""
    val noted = row("q97_pii_redact",
      ""","note":"scan band: corpus-linear — 10x rows reads up to ~10x"""", "0.30")
    val plain = row("q09_join_multikey", "", "0.30")
    val stale = row("q52_tpch_q3", "", "0.30")
    val prior = """{"metric":"scale_probe","small":"a","big":"b","plan_changes":false,""" +
      """"preload":0.2,"load_band":"clean","polluted":false,"queries":{""" +
      Seq(plain, noted, stale).mkString(",") + "}}\n"
    val fresh = row("q52_tpch_q3", "", "0.25")
    assert(ScaleProbe.splice(prior, Seq("q52_tpch_q3" -> fresh)) ===
      Seq(plain, noted, fresh).mkString(","))
    assert(ScaleProbe.splice("", Seq("q52_tpch_q3" -> fresh)) === fresh)
  }

  test("the load sample, the noop sink and the census live only in Harness") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val sources = files(root).map(f =>
      f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    // the 1-minute load average is no load reading anywhere
    assert(sources.filter(_._2.contains("getSystemLoadAverage")).isEmpty)
    for (marker <- Seq("/proc/stat", "format(\"noop\")",
        "\\\\bSortMergeJoin", "\\\\bBroadcastHashJoin", "\\\\bCartesianProduct"))
      assert(sources.filter(_._2.contains(marker)).map(_._1).toSet ===
        Set("Harness.scala"), marker)
    val mains = sources.filter { case (_, src) =>
      src.contains("def main(args: Array[String])") ||
        src.contains("def main(argv: Array[String])")
    }.map(_._1).toSet
    assert(mains === Set("Bench.scala", "Headline.scala", "ScaleProbe.scala",
      "StreamBench.scala", "Plans.scala", "Verify.scala", "Main.scala",
      "GenPowerlaw.scala"))
  }
}
