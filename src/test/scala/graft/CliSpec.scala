package graft

import java.nio.file.Files

/** The CLI front door (reference `main.py` parity) and the `.tbl`
  * ingestion path (the reference's only data on-ramp).
  */
class CliSpec extends SparkSpec {

  import spark.implicits._

  private def ddPath = getClass.getResource("/pizza_dd.json").getPath

  test("Main runs the reference's mushroom-lovers e2e query (golden: 8 rows)") {
    val args = Main.parse(Array(
      "--env", "LOCAL", "--mode", "spark", // reference flags: accepted, ignored
      "--dd_path", ddPath,
      "--data_dir", pizzaDir,
      "--format", "csv",
      """select distinct Person.name, Serves.pizzeria
         from Person, Eats, Serves
         where Person.name = Eats.name and Eats.pizza = Serves.pizza
           and Eats.pizza = 'mushroom'"""))
    val df = Main.run(spark, args)
    assert(df.count() === 8) // reference golden (tests/test_e2e.py)
    assert(df.columns.toSeq === Seq("name", "pizzeria"))
  }

  test("Main defaults data_dir to the dd file's directory and requires dd_path") {
    val a = Main.parse(Array("--dd_path", ddPath, "select 1"))
    assert(a.dataDir ===
      java.nio.file.Paths.get(ddPath).toAbsolutePath.getParent.toString)
    assert(a.format === "csv")
    assert(a.lang === "sql")
    intercept[RuntimeException] { Main.parse(Array("select 1")) }
    intercept[RuntimeException] { Main.parse(Array("--dd_path", ddPath)) }
    intercept[IllegalArgumentException] {
      Main.parse(Array("--dd_path", ddPath, "--lang", "prolog", "q"))
    }
  }

  test("Main --lang ra runs radb text through the RA door (golden: 4 rows)") {
    val args = Main.parse(Array(
      "--dd_path", ddPath,
      "--data_dir", pizzaDir,
      "--format", "csv",
      "--lang", "ra",
      """Person \join_{Person.name = Eats.name} (\select_{pizza='mushroom'} Eats);"""))
    val df = Main.run(spark, args)
    assert(df.count() === 4) // reference golden (tests/test_ra2mr.py:207-210)
    assert(df.columns.length === 5)
  }

  test(".tbl ingestion: pipe-separated, headerless, trailing separator, dd casts") {
    val dir = new java.io.File(tempDir("graft-tbl"))
    // dbgen line shape: trailing `|` creates a phantom empty last field
    Files.writeString(dir.toPath.resolve("Serves.tbl"),
      """Dominos|cheese|7.95
        |Dominos|mushroom|9.25
        |Chicago Pizza|supreme|10.5
        |""".stripMargin.linesIterator.filter(_.nonEmpty)
        .map(_ + "|").mkString("", "\n", "\n"))
    val df = pizzaDd.load(spark, dir.getAbsolutePath, "Serves", format = "tbl")
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ===
      Seq(("pizzeria", "string"), ("pizza", "string"), ("price", "double")))
    val rows = df.as[(String, String, Double)].collect().toSet
    assert(rows === Set(
      ("Dominos", "cheese", 7.95),
      ("Dominos", "mushroom", 9.25),
      ("Chicago Pizza", "supreme", 10.5)))
  }
}
